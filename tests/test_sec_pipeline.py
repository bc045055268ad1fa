"""Golden tests: the SEC star schema + JSON document pipeline built by
the engine hash-matches a DuckDB oracle that implements the reference's
dbt SQL verbatim over the same fixture TSVs."""

from __future__ import annotations

import duckdb
import pytest

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
    dimensions as D,
    facts as FCT,
    json_doc as JD,
    staging as S,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.plans.registry import (
    sec_registry,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.tsv import (
    read_sec_quarter,
)

from .oracle_harness import compare
from .sec_fixtures import generate_sec_quarter, register_sec_views

SENT = "_dbt_utils_surrogate_key_null_"

ORACLE_MODELS = f"""
CREATE OR REPLACE VIEW stg_sub AS
SELECT adsh, cik, name,
       COALESCE(countryba,'Unknown') AS countryba,
       COALESCE(stprba,'Unknown') AS stprba,
       COALESCE(cityba,'Unknown') AS cityba,
       COALESCE(zipba,'Unknown') AS zipba,
       COALESCE(bas1,'Unknown') AS bas1,
       COALESCE(bas2,'Does not exist or Unknown') AS bas2,
       baph, filed, accepted, instance,
       UPPER(SPLIT_PART(instance,'-',1)) AS ticker
FROM raw_sub;

CREATE OR REPLACE VIEW stg_num AS
SELECT adsh, tag, version, ddate, qtrs, uom, value, footnote,
       version || '-' || tag AS version_tag
FROM raw_num;

CREATE OR REPLACE VIEW stg_tag AS
SELECT tag, version, COALESCE(tlabel,'not known') AS tlabel, doc,
       version || '-' || tag AS version_tag
FROM raw_tag;

CREATE OR REPLACE VIEW stg_pre AS
SELECT adsh, stmt, tag, version, COALESCE(plabel,'not known') AS plabel,
       version || '-' || tag AS version_tag
FROM raw_pre;

CREATE OR REPLACE VIEW dim_address AS
SELECT MD5(CONCAT_WS('-',
        COALESCE(CAST(bas1 AS VARCHAR),'{SENT}'),
        COALESCE(CAST(bas2 AS VARCHAR),'{SENT}'),
        COALESCE(CAST(stprba AS VARCHAR),'{SENT}'),
        COALESCE(CAST(countryba AS VARCHAR),'{SENT}'),
        COALESCE(CAST(zipba AS VARCHAR),'{SENT}'))) AS comp_address_sk,
       name AS company_name, bas1 AS street_address1, bas2 AS street_address2,
       stprba AS state_or_province, countryba AS country, zipba AS zipcode
FROM stg_sub;

CREATE OR REPLACE VIEW dim_company AS
SELECT DISTINCT
       MD5(CONCAT_WS('-',
        COALESCE(CAST(s.cik AS VARCHAR),'{SENT}'),
        COALESCE(CAST(a.company_name AS VARCHAR),'{SENT}'))) AS company_sk,
       s.cik, a.company_name,
       UPPER(SPLIT_PART(s.instance,'-',1)) AS ticker,
       a.comp_address_sk
FROM dim_address a JOIN stg_sub s ON a.company_name = s.name;

CREATE OR REPLACE VIEW dim_filings AS
SELECT DISTINCT
       MD5(CONCAT_WS('-',
        COALESCE(CAST(t.tag AS VARCHAR),'{SENT}'),
        COALESCE(CAST(t.version AS VARCHAR),'{SENT}'),
        COALESCE(CAST(p.stmt AS VARCHAR),'{SENT}'),
        COALESCE(CAST(n.uom AS VARCHAR),'{SENT}'),
        COALESCE(CAST(s.filed AS VARCHAR),'{SENT}'))) AS filings_sk,
       t.tag, t.version, COALESCE(t.doc,'Unknown') AS doc,
       p.stmt AS statement_type, s.filed AS filed_date, n.uom AS unit_of_measure
FROM stg_pre p
JOIN stg_tag t ON p.version_tag = t.version_tag
JOIN stg_num n ON n.version_tag = t.version_tag
JOIN stg_sub s ON s.adsh = p.adsh;

CREATE OR REPLACE VIEW dim_date AS
SELECT CAST(STRFTIME(full_dt,'%Y%m%d') AS BIGINT) AS date_sk, full_dt,
       YEAR(full_dt) AS year, MONTH(full_dt) AS month,
       CASE WHEN MONTH(full_dt) BETWEEN 1 AND 3 THEN 1
            WHEN MONTH(full_dt) BETWEEN 4 AND 6 THEN 2
            WHEN MONTH(full_dt) BETWEEN 7 AND 9 THEN 3 ELSE 4 END AS quarter,
       DAY(full_dt) AS day_of_month, DAYOFWEEK(full_dt) AS day_of_week,
       CASE WHEN DAYOFWEEK(full_dt) IN (0,6) THEN 'Y' ELSE 'N' END AS is_weekend
FROM (SELECT DATE '2000-01-01' + CAST(i AS INTEGER) AS full_dt FROM RANGE(0, 11323) t(i));
"""


def fact_oracle_sql(stmt: str) -> str:
    return f"""
    WITH spine AS (
      SELECT n.value, n.adsh, s.cik, s.filed AS filed_date, p.stmt
      FROM stg_num n
      JOIN stg_pre p ON n.adsh = p.adsh AND n.tag = p.tag
      JOIN stg_sub s ON n.adsh = s.adsh
      WHERE p.stmt = '{stmt}'
    ),
    key_data AS (
      SELECT spine.value, dc.company_sk, df.filings_sk, dd.date_sk
      FROM spine
      LEFT JOIN dim_company dc ON spine.cik = dc.cik
      LEFT JOIN dim_filings df ON spine.stmt = df.statement_type
                              AND spine.filed_date = df.filed_date
      LEFT JOIN dim_date dd ON TRY_CAST(CAST(spine.filed_date AS VARCHAR) AS DATE) = dd.full_dt
      WHERE dc.company_sk IS NOT NULL AND df.filings_sk IS NOT NULL
    )
    SELECT CAST(ROUND(SUM(k.value), 2) AS DOUBLE) AS fct_value,
           dc.company_name,
           CAST(df.filed_date AS VARCHAR) AS filed_date,
           df.statement_type, df.tag, df.unit_of_measure, df.version
    FROM key_data k
    JOIN dim_company dc ON k.company_sk = dc.company_sk
    JOIN dim_filings df ON k.filings_sk = df.filings_sk
    GROUP BY dc.company_name, df.filed_date, df.statement_type, df.tag,
             df.unit_of_measure, df.version
    """


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sec_quarter"))
    generate_sec_quarter(d)
    return d


@pytest.fixture(scope="module")
def raw(spark, fixture_dir):
    return read_sec_quarter(spark, fixture_dir)


@pytest.fixture(scope="module")
def oracle(fixture_dir):
    con = duckdb.connect()
    register_sec_views(con, fixture_dir)
    con.execute(ORACLE_MODELS)
    yield con
    con.close()


def test_dim_address_parity(raw, oracle):
    got = D.dim_address(S.stg_sub(raw["sub"]))
    exp = oracle.execute("SELECT * FROM dim_address").df()
    assert not compare(got, exp, "dim_address")


def test_dim_company_parity(raw, oracle):
    ssub = S.stg_sub(raw["sub"])
    got = D.dim_company(D.dim_address(ssub), ssub)
    exp = oracle.execute("SELECT * FROM dim_company").df()
    assert not compare(got, exp, "dim_company")


def test_dim_filings_parity(raw, oracle):
    """The distinct-pushdown rewrite must be result-identical to the
    reference's join-then-DISTINCT."""
    got = D.dim_filings(
        S.stg_pre(raw["pre"]),
        S.stg_tag(raw["tag"]),
        S.stg_num(raw["num"]),
        S.stg_sub(raw["sub"]),
    ).withColumn("filed_date", D.F.col("filed_date").cast("string"))
    exp = oracle.execute(
        "SELECT filings_sk, tag, version, doc, statement_type, "
        "CAST(filed_date AS VARCHAR) AS filed_date, unit_of_measure FROM dim_filings"
    ).df()
    assert not compare(got, exp, "dim_filings")


def test_dim_date_parity(spark, oracle):
    got = D.dim_date(spark).select(
        "date_sk",
        D.F.col("full_dt").cast("string").alias("full_dt"),
        D.F.col("year").cast("long").alias("year"),
        D.F.col("month").cast("long").alias("month"),
        D.F.col("quarter").cast("long").alias("quarter"),
        D.F.col("day_of_month").cast("long").alias("day_of_month"),
        "is_weekend",
    )
    exp = oracle.execute(
        "SELECT date_sk, CAST(full_dt AS VARCHAR) AS full_dt, year, month, quarter,"
        " day_of_month, is_weekend FROM dim_date"
    ).df()
    assert not compare(got, exp, "dim_date")


@pytest.fixture(scope="module")
def fact_models(spark, raw):
    """The spine, dims and statement facts as the CLI builds them: the
    registry's models."""
    return sec_registry().run(spark, dict(raw), select=["fct_statements"])


@pytest.mark.parametrize("stmt", ["BS", "IS", "CF"])
def test_fact_parity(fact_models, oracle, stmt):
    fct = fact_models["fct_statements"]
    got = fct.filter(FCT.F.col("statement_type") == stmt).select(
        FCT.F.col("fct_value").cast("double").alias("fct_value"),
        "company_name",
        FCT.F.col("filed_date").cast("string").alias("filed_date"),
        "statement_type",
        "tag",
        "unit_of_measure",
        "version",
    )
    exp = oracle.execute(fact_oracle_sql(stmt)).df()
    assert not compare(got, exp, f"fct_{stmt}")


def test_stg_financial_data_parity(raw, oracle):
    got = JD.stg_financial_data(
        raw["sub"], raw["num"], raw["tag"], raw["pre"]
    ).select(
        "adsh",
        "cik",
        JD.F.col("filing_date").cast("string").alias("filing_date"),
        JD.F.col("fiscal_year").cast("long").alias("fiscal_year"),
        "fiscal_period",
        "company_name",
        JD.F.col("sic").cast("long").alias("sic"),
        "tag",
        "version",
        JD.F.col("period_end_date").cast("string").alias("period_end_date"),
        JD.F.col("quarters_duration").cast("long").alias("quarters_duration"),
        "unit_of_measure",
        JD.F.col("numeric_value").cast("double").alias("numeric_value"),
        "footnote",
        "tag_label",
        "tag_description",
        "statement_type",
        "presentation_label",
    )
    exp = oracle.execute(
        """
        SELECT s.adsh, s.cik, CAST(s.filed AS VARCHAR) AS filing_date,
               CAST(s.fy AS BIGINT) AS fiscal_year, s.fp AS fiscal_period,
               s.name AS company_name, CAST(s.sic AS BIGINT) AS sic,
               n.tag, n.version, CAST(n.ddate AS VARCHAR) AS period_end_date,
               CAST(n.qtrs AS BIGINT) AS quarters_duration,
               n.uom AS unit_of_measure,
               CAST(n.value AS DOUBLE) AS numeric_value, n.footnote,
               t.tlabel AS tag_label, t.doc AS tag_description,
               p.stmt AS statement_type, p.plabel AS presentation_label
        FROM raw_sub s
        LEFT JOIN raw_num n ON s.adsh = n.adsh
        LEFT JOIN raw_tag t ON n.tag = t.tag AND n.version = t.version
        LEFT JOIN raw_pre p ON n.adsh = p.adsh AND n.tag = p.tag
        """
    ).df()
    assert not compare(got, exp, "stg_financial_data")


def test_financial_statements_json(raw, oracle):
    staged = JD.stg_financial_data(raw["sub"], raw["num"], raw["tag"], raw["pre"])
    docs = JD.financial_statements_json(staged)
    exp = oracle.execute(
        """
        SELECT s.adsh AS filing_id, COUNT(*) AS n_entries
        FROM raw_sub s
        LEFT JOIN raw_num n ON s.adsh = n.adsh
        LEFT JOIN raw_tag t ON n.tag = t.tag AND n.version = t.version
        LEFT JOIN raw_pre p ON n.adsh = p.adsh AND n.tag = p.tag
        GROUP BY s.adsh
        """
    ).df()
    got = docs.select(
        "filing_id", JD.F.size("financial_data").cast("long").alias("n_entries")
    )
    assert not compare(got, exp, "financial_statements_json.sizes")
    # nested structure sanity + JSON serialization round-trip
    row = docs.orderBy("filing_id").first()
    assert set(row.company_info.asDict()) == {"company_name", "cik", "sic"}
    assert len(row.financial_data[0]) == 9
    js = JD.to_json_documents(docs)
    assert js.count() == docs.count()


def test_json_document_roundtrip(spark, raw):
    """F6 both directions: the serialized JSON documents parse back
    (from_json with the docs' own schema) to the same nested values."""
    staged = JD.stg_financial_data(raw["sub"], raw["num"], raw["tag"], raw["pre"])
    docs = JD.financial_statements_json(staged)
    js = JD.to_json_documents(docs)
    schema = docs.schema
    parsed = js.select(
        "filing_id", JD.F.from_json("doc", schema).alias("d")
    ).select("filing_id", "d.company_info", "d.financial_data")
    back = {
        r.filing_id: (r.company_info, len(r.financial_data))
        for r in parsed.collect()
    }
    orig = {
        r.filing_id: (r.company_info, len(r.financial_data))
        for r in docs.collect()
    }
    assert back == orig


def test_fact_plan_single_broadcast_hint(fact_models):
    """The SEC fact path carries exactly ONE explicit broadcast hint —
    the reference's own stg_sub hint (X1, fct_balanceSheet.sql:26). The
    dim sides (dim_company/dim_filings/dim_date) must be hint-free:
    dim_filings' cardinality grows with filing history, so the
    broadcast decision belongs to AQE's measured sizes (VERDICT r2)."""
    fact = FCT.build_fact(
        *(fact_models[n] for n in ("fact_spine", "dim_company", "dim_filings", "dim_date"))
    )
    logical = fact._jdf.queryExecution().analyzed().toString()
    assert logical.count("ResolvedHint") == 1, logical
    assert "UnresolvedHint" not in logical


def test_financial_statements_json_max_facts_cap(raw):
    """VERDICT r8 #2: ``capped_staged`` keeps exactly the PREFIX of
    ``financial_statements_json``'s deterministic (array_sort) entry
    order — equal to slicing the uncapped sorted array — and numbers
    the kept rows 1..N in that order, filtering BEFORE any groupBy."""
    staged = JD.stg_financial_data(raw["sub"], raw["num"], raw["tag"], raw["pre"])
    full = {
        r["filing_id"]: r["financial_data"]
        for r in JD.financial_statements_json(staged).collect()
    }
    cap = 3
    capped: dict = {}
    for r in JD.capped_staged(staged, cap).select(
        "adsh", "__rn", JD.doc_entry_struct().alias("entry")
    ).collect():
        capped.setdefault(r["adsh"], []).append((r["__rn"], r["entry"]))
    assert set(capped) == set(full)  # no filing dropped
    for fid, rows in capped.items():
        rows.sort(key=lambda x: x[0])
        assert [rn for rn, _ in rows] == list(range(1, len(rows) + 1)), fid
        assert [e for _, e in rows] == full[fid][:cap], fid
