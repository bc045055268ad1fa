"""Declarative data-quality framework — the engine's ``dbt test``.

Every generic/singular test in the reference's YAML+SQL test surface
(reference: Airflow/masterfindata/models/Staging/sub_source.yml,
num_source.yml, pre_source.yml, tag_source.yml,
json_transformation_source.yml, json_transform/tests/
testing_for_date_validity.sql, Notes.md:367-404) maps to a check here.

A check is a function DataFrame → DataFrame of *violating rows* (dbt's
contract: a test passes iff the generated query returns zero rows).
``run_checks`` mirrors ``dbt test``: evaluates a suite and reports
violation counts; the CLI exits non-zero when any check fails.

Scale posture: each check is one aggregation/anti-join over the table —
shuffle-light (count-style checks are map-side combinable), no
collects. ``run_checks`` runs a whole suite as ONE Spark query (the
violation frames, tagged by name, unioned and counted per name), which
returns one row per failing check.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .session import spread


# --- generic checks (dbt-core) ---------------------------------------------


def unique(df: DataFrame, *cols: str) -> DataFrame:
    """dbt ``unique`` / dbt_utils.unique_combination_of_columns."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def not_null(df: DataFrame, col: str) -> DataFrame:
    return df.filter(F.col(col).isNull())


def relationships(
    child: DataFrame, parent: DataFrame, keys: list[str] | dict[str, str]
) -> DataFrame:
    """dbt ``relationships`` (FK containment), incl. multi-column form:
    child rows whose key is absent from the parent (left_anti ≙ the
    violation query). NULL keys are not violations (dbt semantics)."""
    if isinstance(keys, list):
        keys = {k: k for k in keys}
    cond = [child[ck] == parent[pk] for ck, pk in keys.items()]
    non_null = child
    for ck in keys:
        non_null = non_null.filter(F.col(ck).isNotNull())
    # no broadcast hint: the parent key set is usually small but a
    # dimension CAN be huge (the house rule — never bake a broadcast
    # on a side that can grow; AQE broadcasts from measured sizes). No
    # distinct either: a left-anti join keeps or drops each child row
    # once, however often its key repeats in the parent.
    return non_null.join(parent.select(*keys.values()), cond, "left_anti")


def accepted_values(df: DataFrame, col: str, values: list) -> DataFrame:
    return df.filter(~F.col(col).isin(values) & F.col(col).isNotNull())


# --- dbt_expectations-style checks -----------------------------------------


def values_between(df: DataFrame, col: str, lo, hi) -> DataFrame:
    c = F.col(col)
    return df.filter(~c.between(lo, hi) & c.isNotNull())


def matches_regex(df: DataFrame, col: str, pattern: str) -> DataFrame:
    c = F.col(col)
    return df.filter(c.isNotNull() & ~c.rlike(pattern))


def value_lengths_between(df: DataFrame, col: str, lo: int, hi: int) -> DataFrame:
    c = F.col(col)
    return df.filter(c.isNotNull() & ~F.length(c).between(lo, hi))


def column_type_is(df: DataFrame, col: str, type_name: str) -> DataFrame:
    """Schema-level check; returns an empty frame when the dtype matches,
    a one-row frame describing the mismatch otherwise."""
    actual = dict(df.dtypes).get(col)
    spark = df.sparkSession
    if actual == type_name:
        return spark.createDataFrame([], "col string, expected string, actual string")
    return spark.createDataFrame(
        [(col, type_name, str(actual))], "col string, expected string, actual string"
    )


# --- custom / singular checks (reference-specific) --------------------------


def not_null_except_zero(df: DataFrame, col: str) -> DataFrame:
    """reference json_transform/tests/testing_for_date_validity.sql:1-6:
    NULL allowed only where ``fy`` = 0 (the missing-year sentinel)."""
    return df.filter(F.col(col).isNull() & (F.col("fy") != 0))


def expression_holds(df: DataFrame, expr: Column) -> DataFrame:
    """Singular test: rows violating a boolean business rule
    (≙ dbt singular tests, reference Notes.md:380-404)."""
    return df.filter(~expr)


# --- suite runner (≙ `dbt test`) -------------------------------------------


@dataclass
class CheckResult:
    name: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


def run_checks(suite: dict[str, Callable[[], DataFrame]]) -> list[CheckResult]:
    """Evaluate a named suite of zero-arg check thunks; mirrors the dbt
    test runner (reference Airflow/dags/rdbms_transformation.py:147-152:
    nonzero rows ⇒ fail).

    Every thunk's violation frame is tagged with its check name and the
    tagged frames are unioned into one ``groupBy("check").count()``: one
    query for the whole suite. A check absent from the result has no
    violations."""
    if not suite:
        return []
    tagged = [
        thunk().select(F.lit(name).alias("check")) for name, thunk in suite.items()
    ]
    counts = dict(reduce(DataFrame.union, tagged).groupBy("check").count().collect())
    return [CheckResult(name, counts.get(name, 0)) for name in suite]


def sec_quarter_suite(
    sub: DataFrame, tag: DataFrame, num: DataFrame, pre: DataFrame
) -> dict[str, Callable[[], DataFrame]]:
    """The reference's full declared test surface for a raw SEC quarter
    (reference: masterfindata + json_transform source YAMLs)."""
    return {
        # sub_source.yml
        "sub.adsh.unique": lambda: unique(sub, "adsh"),
        "sub.adsh.not_null": lambda: not_null(sub, "adsh"),
        "sub.name.not_null": lambda: not_null(sub, "name"),
        "sub.form.not_null": lambda: not_null(sub, "form"),
        "sub.wksi.accepted": lambda: accepted_values(sub, "wksi", [True, False]),
        # fy = 0 is the reference's "missing" sentinel (see
        # not_null_except_zero) — exempt it from the range test
        "sub.fy.between": lambda: values_between(
            sub.filter(F.col("fy") != 0), "fy", 1900, 2100
        ),
        "sub.aciks.regex": lambda: matches_regex(sub, "aciks", r"^[0-9,]*$"),
        "sub.period.not_null_except_zero": lambda: not_null_except_zero(
            sub, "period"
        ),
        # tag_source.yml
        "tag.tag.not_null": lambda: not_null(tag, "tag"),
        "tag.version.not_null": lambda: not_null(tag, "version"),
        "tag.tag_version.unique": lambda: unique(tag, "tag", "version"),
        "tag.iord.accepted": lambda: accepted_values(tag, "iord", ["I", "D"]),
        "tag.crdr.accepted": lambda: accepted_values(tag, "crdr", ["C", "D"]),
        "tag.doc.lengths": lambda: value_lengths_between(tag, "doc", 1, 16777216),
        # num_source.yml
        "num.adsh.not_null": lambda: not_null(num, "adsh"),
        "num.value.between": lambda: values_between(num, "value", 0, 1_000_000_000),
        "num.adsh.fk_sub": lambda: relationships(num, sub, ["adsh"]),
        "num.tag_version.fk_tag": lambda: relationships(num, tag, ["tag", "version"]),
        # pre_source.yml
        "pre.adsh.not_null": lambda: not_null(pre, "adsh"),
        "pre.stmt.accepted": lambda: accepted_values(
            pre, "stmt", ["BS", "IS", "CF", "EQ", "CI", "SI", "UN"]
        ),
        "pre.plabel.lengths": lambda: value_lengths_between(pre, "plabel", 1, 512),
        "pre.adsh.fk_sub": lambda: relationships(pre, sub, ["adsh"]),
        "pre.tag_version.fk_tag": lambda: relationships(pre, tag, ["tag", "version"]),
    }


# --- column profiler (dbt docs / data-catalog surface) ----------------------

#: Render an aggregate value as a cross-engine-stable string per dtype:
#: integral/string/timestamp render identically everywhere; doubles go
#: through DECIMAL(28,6) so both engines print fixed-point at full scale
#: (double→string scientific-notation thresholds differ between engines).
_PROFILE_RENDER = {
    "double": lambda c: c.cast("decimal(28,6)").cast("string"),
    "float": lambda c: c.cast("decimal(28,6)").cast("string"),
    "timestamp": lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss"),
    "timestamp_ntz": lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss"),
    "date": lambda c: F.date_format(c, "yyyy-MM-dd"),
}


def profile_table(df: DataFrame) -> DataFrame:
    """Column profile — the engine-side ``dbt docs`` / catalog statistics
    page: one output row per column with ``(column, n_rows, n_nulls,
    n_distinct, min_value, max_value)``, min/max rendered as
    dtype-stable strings, distinct counts exact (cross-engine-exact for
    the oracle surface).

    Two aggregates crossJoined: the count/null/min/max pass (one
    map-side-combined ``agg``) and the multi-distinct pass, and the
    wide 1-row result pivots to long form through a ``stack``
    projection — no per-column scans, no driver-side collect. Caveat at
    scale: multiple EXACT ``count_distinct`` aggregates expand the input
    once per column (Spark's Expand for multi-distinct).
    """
    cols = df.columns
    dtypes = dict(df.dtypes)
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        render = _PROFILE_RENDER.get(dtypes[c], lambda x: x.cast("string"))
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"),
            render(F.min(F.col(c))).alias(f"__min_{c}"),
            render(F.max(F.col(c))).alias(f"__max_{c}"),
        ]
    # The multi-distinct aggregate (whose Expand multiplies the input
    # n_cols×) is split from the count/null/min/max pass, and the two
    # 1-row results crossJoin. The min/max pass does not ride the
    # Expand (n_cols+1 copies → n_cols for the distinct subtree, 1 for
    # the rest), so total rows through the partial aggregates DROP even
    # though the source is scanned twice — measured 2.7 s → 1.7 s on an
    # 11-column 600k-row profile at sf0.1 (r11; guide §2.3
    # "shuffle/process fewer bytes"), results bit-identical. The Expand
    # runs n_cols× the work BEFORE the partial aggregate, so a few-split
    # scan is ``spread`` over every core first (the ngram_diversity
    # lesson, NOTES_r8 §3).
    dist = spread(df).agg(
        *[F.count_distinct(F.col(c)).cast("long").alias(f"__nd_{c}") for c in cols]
    )
    wide = df.agg(*aggs).crossJoin(dist)
    stack_args = ", ".join(
        f"'{c}', `__nulls_{c}`, `__nd_{c}`, `__min_{c}`, `__max_{c}`" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        ),
        F.col("__n").alias("n_rows"),
    ).select("column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")
