"""Seeded landing generator: one synthetic SEC quarter as COPY-format TSVs.

``land_quarter(out_dir, seed, quarter)`` writes ``sub/tag/num/pre.txt``
with every ``SEC_SCHEMAS`` column, a header row, ``yyyyMMdd`` dates,
empty-string and ``NULL``/``null`` tokens and some quoted fields, plus a
fixed, exactly counted set of defects. It returns a ``Truth``: the rows
a COPY load must keep (typed Python values, for the DuckDB replay), the
rows it must reject, and the violation count the generator injected for
every check of ``sec_quarter_suite``.

Sizes are fixed; the seed only changes values and positions:

- 100 filings in ``sub`` (+3 exact duplicates) by 45 companies: 40
  names, 5 of them shared by two CIKs with different addresses (the
  dim_company name-join fan-out);
- 28 (tag, version) pairs in ``tag``; every tag belongs to one statement
  and has one unit, so at most 6 distinct (tag, version, uom) exist per
  (stmt, filed) -- the fan-out of the fact join to dim_filings;
- 14 ``pre`` rows and 100 ``num`` rows per filing (~10k ``num``).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from decimal import Decimal
from pathlib import Path

from sec_financial_data_pipeline_using_snowflake_dbt_spark.schemas import SEC_SCHEMAS

N_FILINGS = 100
N_NAMES = 40
SHARED_NAMES = 5  # names carried by two CIKs
NUM_PER_PRE_TAG = 6  # num rows per (filing, presented tag)
NUM_UNPRESENTED = 16  # num rows per filing on tags absent from its pre

# statement -> its tags; every tag has exactly one version and unit
VOCAB = {
    "BS": ["Assets", "Liabilities", "StockholdersEquity", "CashAndCashEquivalents",
           "AccountsReceivable", "Inventory"],
    "IS": ["Revenues", "NetIncomeLoss", "OperatingExpenses", "EarningsPerShareBasic",
           "CostOfRevenue", "IncomeTaxExpense"],
    "CF": ["NetCashProvidedByOperatingActivities", "PaymentsToAcquirePPE",
           "ProceedsFromDebt", "RepaymentsOfDebt", "DividendsPaid", "ShareRepurchases"],
    "EQ": ["RetainedEarnings", "TreasuryStock", "CommonStockValue"],
    "CI": ["ComprehensiveIncome", "OtherComprehensiveIncome"],
    "SI": ["SupplementalInterestPaid", "SupplementalTaxesPaid"],
    "UN": ["UnclassifiedA", "UnclassifiedB", "UnclassifiedC"],
}
TAGS = [
    (tag, "custom/2024" if tag.startswith(("Supplemental", "Unclassified")) else "us-gaap/2024",
     stmt, "USD-per-shares" if tag == "EarningsPerShareBasic" else "USD")
    for stmt, tags in VOCAB.items()
    for tag in tags
]
STMT_OF = {t[0]: t[2] for t in TAGS}

SUB_COLS, TAG_COLS, NUM_COLS, PRE_COLS = (
    SEC_SCHEMAS[t].fieldNames() for t in ("sub", "tag", "num", "pre"))

# injected defects per table: how many, and what each does
DEFECTS = {
    "sub": {"duplicate_adsh": 3, "short_row": 2, "bad_filed_date": 2,
            "fy_out_of_range": 2, "period_null_fy_nonzero": 3, "aciks_letters": 2},
    "tag": {"bad_iord": 1, "bad_crdr": 1, "quoted_doc": 3},
    "num": {"short_row": 20, "bad_ddate": 15, "bad_value": 15, "null_token_qtrs": 12,
            "value_out_of_range": 25, "orphan_adsh": 30, "orphan_tag": 10,
            "quoted_footnote": 50},
    "pre": {"short_row": 1, "orphan_adsh": 8, "orphan_tag": 4, "bad_stmt": 5,
            "long_plabel": 2, "quoted_plabel": 30},
}


@dataclass
class Truth:
    """What a correct load and check run of the landed quarter yields."""

    rows: dict[str, list[tuple]] = field(default_factory=dict)  # kept rows, typed
    rejected: dict[str, int] = field(default_factory=dict)
    lines: dict[str, int] = field(default_factory=dict)  # data lines, header excluded
    violations: dict[str, int] = field(default_factory=dict)

    @property
    def raw_lines(self) -> int:
        return sum(self.lines.values())


def _fmt(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, date) and not isinstance(v, datetime):
        return v.strftime("%Y%m%d")
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def _quote(s: str) -> str:
    return '"' + s.replace('"', '""') + '"'


class _Table:
    """Accumulates one TSV's lines and the typed rows COPY must keep."""

    def __init__(self, cols: list[str], rng: random.Random):
        self.cols, self.rng = cols, rng
        self.lines: list[str] = []
        self.kept: list[tuple] = []
        self.rejected = 0

    def add(self, row: dict, quoted: tuple[str, ...] = ()) -> None:
        """A valid row. NULL columns are written as "", NULL or null
        (unquoted lines only: on a quoted line COPY keeps NULL_IF per
        field, and the generator keeps it simple)."""
        fields = []
        for c in self.cols:
            v = row[c]
            if v is None:
                tok = "" if quoted else self.rng.choice(("", "", "NULL", "null"))
                fields.append(tok)
            elif c in quoted:
                fields.append(_quote(_fmt(v)))
            else:
                fields.append(_fmt(v))
        self.lines.append("\t".join(fields))
        self.kept.append(tuple(row[c] for c in self.cols))

    def reject(self, line: str) -> None:
        self.lines.append(line)
        self.rejected += 1

    def write(self, path: Path, rng: random.Random) -> None:
        # defects land at seeded positions, not at the end of the file
        order = list(range(len(self.lines)))
        rng.shuffle(order)
        body = "\n".join(self.lines[i] for i in order)
        path.write_text("\t".join(self.cols) + "\n" + body + "\n")


def land_quarter(out_dir: str | Path, seed: int, quarter: int = 0) -> Truth:
    """Write one quarter's four TSVs to ``out_dir``. ``quarter`` shifts
    the filing dates by whole quarters (so variants of one seed are told
    apart by ``filed``) and is mixed into the seed."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed * 1009 + quarter)
    q0 = date(2022, 1, 1) + timedelta(days=91 * quarter)

    # --- tag ----------------------------------------------------------------
    tag_t = _Table(TAG_COLS, rng)
    for j, (tg, ver, _stmt, _uom) in enumerate(TAGS):
        row = dict(tag=tg, version=ver, custom=ver.startswith("custom"), abstract=False,
                   datatype="monetary", iord="I" if j % 2 else "D",
                   crdr="C" if j % 3 else "D",
                   tlabel=None if j % 7 == 0 else f"Label of {tg}",
                   doc=None if j % 5 == 0 else f"Documentation of {tg}.")
        quoted: tuple[str, ...] = ()
        if j < DEFECTS["tag"]["quoted_doc"]:
            row["doc"] = f'Doc of {tg}\twith a tab and "quotes"'
            quoted = ("doc",)
        if j == 10:
            row["iord"] = "X"
        if j == 11:
            row["crdr"] = "Z"
        tag_t.add(row, quoted)

    # --- sub ----------------------------------------------------------------
    names = []
    for i in range(N_NAMES):
        names.append((f"COMPANY {i:03d} {rng.choice(('INC', 'CORP', 'LLC', 'PLC'))}",
                      f"tk{i:03d}", 100000 + i * 7))
    # shared names: a second CIK under an existing name, with its own address
    companies = [(n, t, cik, 0) for n, t, cik in names] + [
        (names[i][0], names[i][1] + "b", 900000 + i, 1) for i in range(SHARED_NAMES)
    ]
    sub_t = _Table(SUB_COLS, rng)
    filings = []
    d = DEFECTS["sub"]
    for i in range(N_FILINGS):
        name, ticker, cik, addr = companies[i % len(companies)]
        filed = q0 + timedelta(days=rng.randrange(88))
        fy = 0 if i % 23 == 0 else 2021 + quarter // 4
        period = None if fy == 0 and i % 2 else date(2021, 12, 31)
        row = dict(
            adsh=f"{cik:010d}-{22 + quarter // 4:02d}-{i:06d}", cik=cik, name=name,
            sic=rng.choice((1311, 2834, 3571, 6022, 7372)),
            countryba="US", stprba=None if addr else "CA", cityba="SPRINGFIELD",
            zipba=f"{90000 + addr * 11 + cik % 97}", bas1=f"{cik % 900 + 1} MAIN ST",
            bas2=None if addr else "SUITE 5", baph="555-0100", countryma="US",
            stprma="CA", cityma="SPRINGFIELD", zipma="90001", mas1=None, mas2=None,
            countryinc="US", stprinc="DE", ein=10_000_000 + cik, former=None,
            changed=None, afs="1-LAF", wksi=i % 2 == 0, fye="1231",
            form=("10-K", "10-Q", "8-K")[i % 3], period=period, fy=fy,
            fp="FY" if i % 3 else "Q1", filed=filed,
            accepted=datetime.combine(filed, datetime.min.time()) + timedelta(hours=17, minutes=i % 60),
            prevrpt=False, detail=True, instance=f"{ticker}-{filed:%Y%m%d}.htm",
            nciks=1, aciks=None if i % 5 else "123456,234567",
        )
        if i < d["fy_out_of_range"]:
            row["fy"] = 1850
        elif i < d["fy_out_of_range"] + d["period_null_fy_nonzero"]:
            row["period"] = None
        elif i < d["fy_out_of_range"] + d["period_null_fy_nonzero"] + d["aciks_letters"]:
            row["aciks"] = "12AB,99"
        filings.append(row)
        sub_t.add(row)
    for row in filings[10:10 + d["duplicate_adsh"]]:
        sub_t.add(row)
    for k in range(d["short_row"]):
        sub_t.reject(f"0000000001-22-{k:06d}\t1\tSHORT ROW CO")
    for k in range(d["bad_filed_date"]):
        bad = [_fmt(filings[k][c]) for c in SUB_COLS]
        bad[0] = f"0000000002-22-{k:06d}"
        bad[SUB_COLS.index("filed")] = "2022-02-30"
        sub_t.reject("\t".join(bad))

    # --- pre / num ----------------------------------------------------------
    pre_t = _Table(PRE_COLS, rng)
    num_t = _Table(NUM_COLS, rng)
    dp, dn = DEFECTS["pre"], DEFECTS["num"]
    all_tags = [(t[0], t[1]) for t in TAGS]
    uom_of = {t[0]: t[3] for t in TAGS}
    pre_rows, num_rows = [], []
    for f in filings:
        presented = rng.sample(all_tags, 14)
        for line_no, (tg, ver) in enumerate(presented):
            pre_rows.append(dict(
                adsh=f["adsh"], report=1 + line_no % 4, line=line_no, stmt=STMT_OF[tg],
                inpth=False, rfile=rng.choice(("H", "X", None)), tag=tg, version=ver,
                plabel=None if rng.random() < 0.05 else f"{tg} ({f['fy']})", negating=False))
        absent = [t for t in all_tags if t not in presented]
        picks = [t for t in presented for _ in range(NUM_PER_PRE_TAG)]
        picks += [rng.choice(absent) for _ in range(NUM_UNPRESENTED)]
        for k, (tg, ver) in enumerate(picks):
            num_rows.append(dict(
                adsh=f["adsh"], tag=tg, version=ver,
                ddate=date(2021, 12, 31) - timedelta(days=91 * (k % 4)),
                qtrs=(0, 1, 4)[k % 3], uom=uom_of[tg],
                segments=None if k % 5 else f"Segment=S{k % 3};", coreg=None,
                value=Decimal(rng.randrange(0, 10**13)).scaleb(-4),
                footnote=None if k % 9 else "See note 5."))

    # orphans copy rows from the first 300; value-level defects go to
    # disjoint positions after them, so no defect is copied or doubled
    for k in range(dn["orphan_adsh"]):
        num_rows.append({**num_rows[k * 7], "adsh": f"0000000009-22-{k:06d}"})
    for k in range(dn["orphan_tag"]):
        num_rows.append({**num_rows[k * 11 + 3], "tag": f"NoSuchTag{k}", "version": "none/1999"})
    n_val, n_null = dn["value_out_of_range"], dn["null_token_qtrs"]
    n_base = len(num_rows) - dn["orphan_adsh"] - dn["orphan_tag"]
    pos = rng.sample(range(300, n_base), n_val + n_null + dn["quoted_footnote"])
    for p in pos[:n_val]:
        v = num_rows[p]["value"]
        num_rows[p]["value"] = -v - 1 if p % 2 else v + 10**9 + 1
    null_qtrs = set(pos[n_val:n_val + n_null])
    quoted_fn = set(pos[n_val + n_null:])
    for p, row in enumerate(num_rows):
        if p in null_qtrs:
            row["qtrs"] = None
            line = "\t".join("NULL" if c == "qtrs" else _fmt(row[c]) for c in NUM_COLS)
            num_t.lines.append(line)
            num_t.kept.append(tuple(row[c] for c in NUM_COLS))
        elif p in quoted_fn:
            row["footnote"] = 'See "note" 7, page\t2.'
            num_t.add(row, ("footnote",))
        else:
            num_t.add(row)
    for k in range(dn["short_row"]):
        num_t.reject(f"{filings[k]['adsh']}\tAssets\tus-gaap/2024\t20211231")
    for k in range(dn["bad_ddate"]):
        bad = [_fmt(num_rows[k][c]) for c in NUM_COLS]
        bad[3] = ("notadate", "20211341", "2021-12-31")[k % 3]
        num_t.reject("\t".join(bad))
    for k in range(dn["bad_value"]):
        bad = [_fmt(num_rows[k + 100][c]) for c in NUM_COLS]
        bad[8] = ("12.3.4", "abc", "7..5")[k % 3]
        num_t.reject("\t".join(bad))

    for k in range(dp["orphan_adsh"]):
        pre_rows.append({**pre_rows[k * 5], "adsh": f"0000000008-22-{k:06d}"})
    for k in range(dp["orphan_tag"]):
        pre_rows.append({**pre_rows[k * 13 + 1], "tag": f"NoSuchPreTag{k}", "version": "none/1999"})
    for k in range(dp["bad_stmt"]):
        pre_rows[k * 17 + 2]["stmt"] = "XX"
    long_pl = {k * 19 + 5 for k in range(dp["long_plabel"])}
    for p in long_pl:
        pre_rows[p]["plabel"] = "L" * 600
    quoted_pl = set(rng.sample([p for p in range(len(pre_rows)) if p not in long_pl],
                               dp["quoted_plabel"]))
    for p, row in enumerate(pre_rows):
        if p in quoted_pl:
            row["plabel"] = f'Total\t"{row["tag"]}", net'
            pre_t.add(row, ("plabel",))
        else:
            pre_t.add(row)
    pre_t.reject(f"{filings[0]['adsh']}\t1")

    tables = {"sub": sub_t, "tag": tag_t, "num": num_t, "pre": pre_t}
    for name, t in tables.items():
        t.write(out / f"{name}.txt", rng)
    return Truth(
        rows={n: t.kept for n, t in tables.items()},
        rejected={n: t.rejected for n, t in tables.items()},
        lines={n: len(t.lines) for n, t in tables.items()},
        violations=expected_violations(),
    )


def expected_violations() -> dict[str, int]:
    """Violations per ``sec_quarter_suite`` check, by construction."""
    s, t, n, p = DEFECTS["sub"], DEFECTS["tag"], DEFECTS["num"], DEFECTS["pre"]
    v = {name: 0 for name in SUITE_CHECKS}
    v["sub.adsh.unique"] = s["duplicate_adsh"]
    v["sub.fy.between"] = s["fy_out_of_range"]
    v["sub.period.not_null_except_zero"] = s["period_null_fy_nonzero"]
    v["sub.aciks.regex"] = s["aciks_letters"]
    v["tag.iord.accepted"] = t["bad_iord"]
    v["tag.crdr.accepted"] = t["bad_crdr"]
    v["num.value.between"] = n["value_out_of_range"]
    v["num.adsh.fk_sub"] = n["orphan_adsh"]
    v["num.tag_version.fk_tag"] = n["orphan_tag"]
    v["pre.stmt.accepted"] = p["bad_stmt"]
    v["pre.plabel.lengths"] = p["long_plabel"]
    v["pre.adsh.fk_sub"] = p["orphan_adsh"]
    v["pre.tag_version.fk_tag"] = p["orphan_tag"]
    return v


SUITE_CHECKS = (
    "sub.adsh.unique", "sub.adsh.not_null", "sub.name.not_null", "sub.form.not_null",
    "sub.wksi.accepted", "sub.fy.between", "sub.aciks.regex",
    "sub.period.not_null_except_zero", "tag.tag.not_null", "tag.version.not_null",
    "tag.tag_version.unique", "tag.iord.accepted", "tag.crdr.accepted",
    "tag.doc.lengths", "num.adsh.not_null", "num.value.between", "num.adsh.fk_sub",
    "num.tag_version.fk_tag", "pre.adsh.not_null", "pre.stmt.accepted",
    "pre.plabel.lengths", "pre.adsh.fk_sub", "pre.tag_version.fk_tag",
)
