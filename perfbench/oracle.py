"""Expected pipeline outputs for a landed quarter, from a DuckDB replay.

The replay runs the reference's dbt SQL (staging -> dimensions -> facts,
and the flattened JSON staging) over the rows the generator says a COPY
load keeps, so it shares no code with the engine under test. Results
are compared as canonical row multisets: ``canonical_*`` turns rows of
either engine into sorted tuples of strings, and ``digest`` hashes them
order-independently.

The replay runs in a child process (``replay_in_child``), so DuckDB and
pyarrow never load into the measured process and stay out of its peak
memory:

    PYTHONPATH=. python3 perfbench/oracle.py --seed N --variants V --out DIR

lands the seed's quarter variants under ``DIR`` and prints one JSON line:
per variant, the expected (count, digest) per output table and the
violations per check.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from collections import defaultdict
from decimal import Decimal
from pathlib import Path

import gen
from gen import Truth
from sec_financial_data_pipeline_using_snowflake_dbt_spark.schemas import SEC_SCHEMAS

FACT_TABLES = {"BS": "fct_balance_sheet", "IS": "fct_income_statement", "CF": "fct_cashflows"}
JSON_TABLE = "financial_statements_json"
OUTPUT_TABLES = (*FACT_TABLES.values(), JSON_TABLE)

_SENT = "_dbt_utils_surrogate_key_null_"


def _sk(*cols: str) -> str:
    parts = ", ".join(f"COALESCE(CAST({c} AS VARCHAR), '{_SENT}')" for c in cols)
    return f"MD5(CONCAT_WS('-', {parts}))"


MODELS_SQL = f"""
CREATE VIEW stg_sub AS SELECT adsh, cik, name, COALESCE(countryba, 'Unknown') AS countryba,
  COALESCE(stprba, 'Unknown') AS stprba, COALESCE(zipba, 'Unknown') AS zipba,
  COALESCE(bas1, 'Unknown') AS bas1, COALESCE(bas2, 'Does not exist or Unknown') AS bas2,
  filed, instance FROM raw_sub;
CREATE VIEW stg_num AS SELECT *, version || '-' || tag AS version_tag FROM raw_num;
CREATE VIEW stg_tag AS SELECT *, version || '-' || tag AS version_tag FROM raw_tag;
CREATE VIEW stg_pre AS SELECT *, version || '-' || tag AS version_tag FROM raw_pre;
CREATE VIEW dim_address AS SELECT {_sk('bas1', 'bas2', 'stprba', 'countryba', 'zipba')}
  AS comp_address_sk, name AS company_name FROM stg_sub;
CREATE TABLE dim_company AS SELECT DISTINCT {_sk('s.cik', 'a.company_name')} AS company_sk,
  s.cik, a.company_name, a.comp_address_sk
  FROM dim_address a JOIN stg_sub s ON a.company_name = s.name;
-- DISTINCT over the 4-way join; every side is reduced to its distinct
-- projection first, which leaves the result unchanged
CREATE TABLE dim_filings AS SELECT DISTINCT
  {_sk('t.tag', 't.version', 'p.stmt', 'n.uom', 's.filed')} AS filings_sk,
  t.tag, t.version, p.stmt AS statement_type, s.filed AS filed_date, n.uom AS unit_of_measure
  FROM (SELECT DISTINCT version_tag, stmt, adsh FROM stg_pre) p
  JOIN (SELECT DISTINCT version_tag, tag, version FROM stg_tag) t
    ON p.version_tag = t.version_tag
  JOIN (SELECT DISTINCT version_tag, uom FROM stg_num) n ON n.version_tag = t.version_tag
  JOIN (SELECT DISTINCT adsh, filed FROM stg_sub) s ON s.adsh = p.adsh;
"""


def _fact_sql(stmt: str) -> str:
    return f"""
    WITH spine AS (
      SELECT n.value, s.cik, s.filed AS filed_date, p.stmt
      FROM stg_num n JOIN stg_pre p ON n.adsh = p.adsh AND n.tag = p.tag
      JOIN stg_sub s ON n.adsh = s.adsh WHERE p.stmt = '{stmt}'),
    key_data AS (
      SELECT spine.value, dc.company_sk, df.filings_sk FROM spine
      LEFT JOIN dim_company dc ON spine.cik = dc.cik
      LEFT JOIN dim_filings df ON spine.stmt = df.statement_type
                              AND spine.filed_date = df.filed_date
      WHERE dc.company_sk IS NOT NULL AND df.filings_sk IS NOT NULL)
    SELECT ROUND(SUM(k.value), 2) AS fct_value, dc.company_name, df.filed_date,
           df.statement_type, df.tag, df.unit_of_measure, df.version
    FROM key_data k JOIN dim_company dc ON k.company_sk = dc.company_sk
    JOIN dim_filings df ON k.filings_sk = df.filings_sk
    GROUP BY dc.company_name, df.filed_date, df.statement_type, df.tag,
             df.unit_of_measure, df.version
    """


JSON_FLAT_SQL = """
SELECT s.adsh, s.cik, s.name, s.sic, s.filed, s.fy, s.fp,
       n.tag, t.tlabel, t.doc, n.value, n.uom, n.ddate, n.qtrs, p.stmt, p.plabel
FROM raw_sub s LEFT JOIN raw_num n ON s.adsh = n.adsh
LEFT JOIN raw_tag t ON n.tag = t.tag AND n.version = t.version
LEFT JOIN raw_pre p ON n.adsh = p.adsh AND n.tag = p.tag
"""


def _count(where: str) -> str:
    return f"SELECT COUNT(*) FROM {where}"


def _fk(child: str, parent: str, keys: list[str]) -> str:
    on = " AND ".join(f"c.{k} = p.{k}" for k in keys)
    nn = " AND ".join(f"c.{k} IS NOT NULL" for k in keys)
    return _count(f"raw_{child} c WHERE {nn} AND NOT EXISTS "
                  f"(SELECT 1 FROM raw_{parent} p WHERE {on})")


def _dup(table: str, keys: str) -> str:
    return _count(f"(SELECT 1 FROM raw_{table} GROUP BY {keys} HAVING COUNT(*) > 1)")


CHECK_SQL = {
    "sub.adsh.unique": _dup("sub", "adsh"),
    "sub.adsh.not_null": _count("raw_sub WHERE adsh IS NULL"),
    "sub.name.not_null": _count("raw_sub WHERE name IS NULL"),
    "sub.form.not_null": _count("raw_sub WHERE form IS NULL"),
    "sub.wksi.accepted": _count("raw_sub WHERE wksi NOT IN (true, false)"),
    "sub.fy.between": _count("raw_sub WHERE fy != 0 AND fy NOT BETWEEN 1900 AND 2100"),
    "sub.aciks.regex": _count("raw_sub WHERE NOT regexp_full_match(aciks, '[0-9,]*')"),
    "sub.period.not_null_except_zero": _count("raw_sub WHERE period IS NULL AND fy != 0"),
    "tag.tag.not_null": _count("raw_tag WHERE tag IS NULL"),
    "tag.version.not_null": _count("raw_tag WHERE version IS NULL"),
    "tag.tag_version.unique": _dup("tag", "tag, version"),
    "tag.iord.accepted": _count("raw_tag WHERE iord NOT IN ('I', 'D')"),
    "tag.crdr.accepted": _count("raw_tag WHERE crdr NOT IN ('C', 'D')"),
    "tag.doc.lengths": _count("raw_tag WHERE length(doc) NOT BETWEEN 1 AND 16777216"),
    "num.adsh.not_null": _count("raw_num WHERE adsh IS NULL"),
    "num.value.between": _count("raw_num WHERE value NOT BETWEEN 0 AND 1000000000"),
    "num.adsh.fk_sub": _fk("num", "sub", ["adsh"]),
    "num.tag_version.fk_tag": _fk("num", "tag", ["tag", "version"]),
    "pre.adsh.not_null": _count("raw_pre WHERE adsh IS NULL"),
    "pre.stmt.accepted": _count(
        "raw_pre WHERE stmt NOT IN ('BS', 'IS', 'CF', 'EQ', 'CI', 'SI', 'UN')"),
    "pre.plabel.lengths": _count("raw_pre WHERE length(plabel) NOT BETWEEN 1 AND 512"),
    "pre.adsh.fk_sub": _fk("pre", "sub", ["adsh"]),
    "pre.tag_version.fk_tag": _fk("pre", "tag", ["tag", "version"]),
}


def _s(v) -> str | None:
    """One value as a string both engines render alike."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return format(v.normalize(), "f") if v else "0"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical_fact(rows) -> list[tuple]:
    """(fct_value, company_name, filed_date, statement_type, tag, uom, version)."""
    return sorted(tuple(_s(v) for v in r) for r in rows)


def canonical_json(groups) -> list[tuple]:
    """``groups``: (filing_id, company_name, cik, sic, filing_date, fiscal_year,
    fiscal_period, entries) with entries in the 9-field entry-struct order."""
    out = []
    for *keys, entries in groups:
        ent = tuple(sorted((tuple(_s(v) for v in e) for e in entries), key=repr))
        out.append((*(_s(k) for k in keys), ent))
    return sorted(out, key=repr)


def digest(canon: list[tuple]) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]


def spark_outputs(built: dict) -> dict[str, tuple[int, str]]:
    """(row count, digest) of each output table the registry built."""
    out = {}
    for name in FACT_TABLES.values():
        rows = built[name].select("fct_value", "company_name", "filed_date", "statement_type",
                                  "tag", "unit_of_measure", "version").collect()
        out[name] = (len(rows), digest(canonical_fact(rows)))
    groups = [
        (r.filing_id, r.company_info.company_name, r.company_info.cik, r.company_info.sic,
         r.filing_date, r.fiscal_year, r.fiscal_period, r.financial_data)
        for r in built[JSON_TABLE].collect()
    ]
    out[JSON_TABLE] = (len(groups), digest(canonical_json(groups)))
    return out


def replay(truth: Truth) -> tuple[dict[str, tuple[int, str]], dict[str, int]]:
    """Run the reference SQL over the kept rows. Returns the expected
    (count, digest) per output table and the violations per check."""
    import duckdb
    import pyarrow as pa

    arrow = {"string": pa.string(), "bigint": pa.int64(), "int": pa.int32(),
             "boolean": pa.bool_(), "date": pa.date32(), "timestamp_ntz": pa.timestamp("us"),
             "decimal(28,4)": pa.decimal128(28, 4)}
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    try:
        for name in ("sub", "tag", "num", "pre"):
            fields = SEC_SCHEMAS[name].fields
            cols = [f.name for f in fields]
            arrays = [pa.array([r[i] for r in truth.rows[name]],
                               type=arrow[f.dataType.simpleString()])
                      for i, f in enumerate(fields)]
            con.register(f"raw_{name}", pa.Table.from_arrays(arrays, names=cols))
        con.execute(MODELS_SQL)
        expected = {}
        for stmt, name in FACT_TABLES.items():
            rows = con.execute(_fact_sql(stmt)).fetchall()
            expected[name] = (len(rows), digest(canonical_fact(rows)))
        groups: dict[tuple, list] = defaultdict(list)
        for r in con.execute(JSON_FLAT_SQL).fetchall():
            adsh, cik, name, sic, filed, fy, fp, tag, tlabel, doc, value, uom, ddate, qtrs, stmt, plabel = r
            groups[(adsh, name, cik, sic, filed, fy, fp)].append(
                (tag, tlabel, doc, value, uom, ddate, qtrs, stmt, plabel))
        expected[JSON_TABLE] = (len(groups), digest(canonical_json(
            (*k, v) for k, v in groups.items())))
        violations = {name: con.execute(sql).fetchone()[0] for name, sql in CHECK_SQL.items()}
        return expected, violations
    finally:
        con.close()


def replay_in_child(seed: int, variants: int, out: Path) -> list[tuple[dict, dict]]:
    """``replay`` of each quarter variant of ``seed``, in a child process."""
    root = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--seed", str(seed),
         "--variants", str(variants), "--out", str(out)],
        cwd=root, env={**os.environ, "PYTHONPATH": str(root)}, capture_output=True, text=True,
        timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"oracle replay failed: {proc.stderr[-2000:]}")
    return [({k: tuple(v) for k, v in expected.items()}, violations)
            for expected, violations in json.loads(proc.stdout.splitlines()[-1])]


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description="DuckDB replay of landed quarter variants")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--variants", type=int, required=True)
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args()
    print(json.dumps([replay(gen.land_quarter(args.out / f"landing-{q}", args.seed, quarter=q))
                      for q in range(args.variants)]))


if __name__ == "__main__":
    main()
