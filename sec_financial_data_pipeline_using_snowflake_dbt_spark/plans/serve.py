"""Serving layer: the engine-side replacement for the reference's
Streamlit/Redis data-explorer backend (reference: Frontend/app.py).

- ``list_catalog``      — schema/table introspection (S11: app.py:87,113)
- ``build_predicate``   — the dynamic filter builder (P7: app.py:182-198)
- ``filtered_read``     — filtered + paginated fetch with a deterministic
                          sort (O3 + SURVEY §4 gotcha 3 fixed)
- ``guarded_sql``       — SELECT-only SQL passthrough (P9: app.py:277-281),
                          enforced on the *parsed plan*, not a string
                          prefix — `WITH ... INSERT` can't sneak through
- ``ResultCache``       — TTL result cache keyed on the optimized plan's
                          semantic hash and the input files (X13:
                          app.py:98-133; plan-keyed instead of
                          SQL-text-keyed, so equivalent spellings share
                          an entry)
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import lru_cache, reduce
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def list_catalog(spark: SparkSession) -> dict[str, list[str]]:
    """database -> table names (reference app.py:87,113 INFORMATION_SCHEMA)."""
    out: dict[str, list[str]] = {}
    for db in spark.catalog.listDatabases():
        out[db.name] = [t.name for t in spark.catalog.listTables(db.name)]
    return out


# --- dynamic predicates -----------------------------------------------------


@dataclass
class ColumnFilter:
    """One UI filter: categorical equality, numeric range, or date range
    (reference app.py:182-198)."""

    column: str
    eq: Any = None
    between: tuple[Any, Any] | None = None

    def to_column(self) -> Column:
        c = F.col(self.column)
        if self.eq is not None:
            return c == self.eq
        if self.between is not None:
            return c.between(*self.between)
        raise ValueError(f"filter on {self.column} needs eq or between")


def build_predicate(filters: list[ColumnFilter]) -> Column:
    """AND-combine filters (empty list ⇒ TRUE)."""
    if not filters:
        return F.lit(True)
    return reduce(lambda a, b: a & b, (f.to_column() for f in filters))


def filtered_read(
    df: DataFrame,
    filters: list[ColumnFilter] | None = None,
    sort: list[str] | None = None,
    limit: int = 5000,
    offset: int = 0,
) -> DataFrame:
    """Filter + paginate. A deterministic sort is mandatory: the
    reference paginates unordered SELECTs (app.py:198), which reshuffles
    between pages; we default to sorting by every projected column.

    The default sort key skips columns whose type transitively contains
    a MapType (map, array<map>, struct with a map field, …): they are
    not orderable and would fail at plan time. With no orderable column
    the page is an unsorted limit. An explicit caller ``sort`` is passed
    through untouched and may still raise. Spark plans sort + limit as
    one TakeOrderedAndProject, not a full sort."""
    out = df.filter(build_predicate(filters or []))
    sort_cols = sort or [
        f.name for f in df.schema.fields if _orderable(f.dataType)
    ]
    if sort_cols:
        out = out.orderBy(*sort_cols)
    if offset:
        out = out.offset(offset)
    return out.limit(limit)


#: A column with fewer distinct values than this gets a categorical
#: filter widget (reference app.py:485-505).
MAX_CATEGORIES = 15


def filter_widget_probe(df: DataFrame) -> dict[str, dict]:
    """Derive per-column filter-widget specs the way the UI does
    (reference app.py:485-505): categorical when < ``MAX_CATEGORIES``
    distinct values, otherwise min/max range for numerics and dates.

    Exactly TWO jobs regardless of column count: one aggregate pass for
    cardinality (approx_count_distinct) + min/max, then one aggregate
    collecting the value lists of ALL categorical columns at once
    (collect_set per column in a single agg — not one distinct job per
    column; VERDICT r2)."""
    num_types = {"int", "bigint", "double", "float", "decimal"}
    aggs = []
    for name, dtype in df.dtypes:
        base = dtype.split("(")[0]
        aggs.append(F.approx_count_distinct(name).alias(f"{name}__card"))
        # collect_set drops NULLs below — track the null category here so
        # rows with NULL stay selectable through the derived filter
        aggs.append(F.max(F.col(name).isNull()).alias(f"{name}__has_null"))
        if base in num_types or base in {"date", "timestamp", "timestamp_ntz"}:
            aggs.append(F.min(name).alias(f"{name}__min"))
            aggs.append(F.max(name).alias(f"{name}__max"))
    stats = df.agg(*aggs).first().asDict()
    cat_cols = [
        n
        for n, _ in df.dtypes
        # collect_set needs a hashable/orderable type — map-bearing
        # columns fall through to the "search" widget
        if stats[f"{n}__card"] < MAX_CATEGORIES and _orderable(df.schema[n].dataType)
    ]
    cat_vals: dict[str, list] = {}
    if cat_cols:
        row = df.agg(
            *[F.collect_set(F.col(c)).alias(c) for c in cat_cols]
        ).first()
        cat_vals = {c: row[c] for c in cat_cols}
    widgets: dict[str, dict] = {}
    for name, dtype in df.dtypes:
        if name in cat_vals:
            vals = list(map(str, cat_vals[name]))
            if stats[f"{name}__has_null"]:
                vals.append(str(None))  # parity with the old distinct() path
            vals = sorted(vals)[:MAX_CATEGORIES]
            widgets[name] = {"kind": "categorical", "values": vals}
        elif f"{name}__min" in stats:
            widgets[name] = {
                "kind": "range",
                "min": stats[f"{name}__min"],
                "max": stats[f"{name}__max"],
            }
        else:
            widgets[name] = {"kind": "search"}
    return widgets


# --- SELECT-only SQL gate ---------------------------------------------------


class SqlGateError(ValueError):
    pass


# Every logical-plan node a pure query can parse to (Spark 4 parser,
# enumerated by probing the full query surface: CTEs, set ops, windows,
# pivots, laterals, TVFs, subqueries, hints, sampling, DISTRIBUTE/
# CLUSTER BY). Anything NOT here — including nodes added by future
# Spark versions — fails CLOSED: an unknown node is rejected, unlike a
# denylist where an unlisted command slips through.
QUERY_PLAN_NODES = frozenset(
    {
        "Aggregate", "CTE", "Deduplicate", "Distinct", "Except", "Filter",
        "Generate", "GlobalLimit", "Intersect", "Join", "LateralJoin",
        "LocalLimit", "LocalRelation", "Offset", "OneRowRelation", "Pivot",
        "Project", "Range", "Repartition", "RepartitionByExpression",
        "Sample", "Sort", "SubqueryAlias", "Tail", "Union", "Unpivot",
        "UnresolvedHaving", "UnresolvedHint", "UnresolvedInlineTable",
        "UnresolvedRelation", "UnresolvedSubqueryColumnAliases",
        "UnresolvedTVFAliases", "UnresolvedTableValuedFunction",
        "UnresolvedWith", "Window", "WithWindowDefinition",
    }
)


def guarded_sql(spark: SparkSession, query: str) -> DataFrame:
    """Execute ``query`` iff its *parsed plan* is a pure query.

    The reference gates on ``query.lower().startswith('select')``
    (app.py:277-281), which both rejects legitimate ``WITH ...`` queries
    and can be fooled. We parse without executing and require every
    node of the tree (a command can hide under a CTE: ``WITH x AS (...)
    INSERT INTO ...``) to be on the ``QUERY_PLAN_NODES`` allowlist —
    exact names, fail-closed on anything unknown.

    Uses the JVM parser bridge (``_jsparkSession``), which Spark Connect
    doesn't expose; with no parser available the gate REFUSES rather
    than falling back to executing unvetted SQL (``spark.sql`` runs
    commands eagerly, so "submit and inspect later" is not a safe
    fallback).
    """
    import re

    try:
        parser = spark._jsparkSession.sessionState().sqlParser()
    except AttributeError:
        raise SqlGateError(
            "no SQL parser bridge on this session (Spark Connect?); "
            "refusing to execute unvetted SQL"
        ) from None
    try:
        plan = parser.parsePlan(query)
    except Exception as e:  # noqa: BLE001 — surface parse errors as gate errors
        raise SqlGateError(f"unparseable SQL: {e}") from None
    # node names are the first identifier of each treeString line, so
    # table/column identifiers can't false-positive
    node_names = {
        m.group(1)
        for line in plan.treeString().splitlines()
        if (m := re.match(r"^[\s:+\-']*([A-Za-z]+)", line))
    }
    offending = sorted(node_names - QUERY_PLAN_NODES)
    if offending:
        raise SqlGateError(
            f"only read-only queries allowed; got non-query plan nodes {offending}"
        )
    return spark.sql(query)


# --- plan-keyed result cache ------------------------------------------------


def _orderable(dt) -> bool:
    """True iff a column of this type can appear in ORDER BY: anything
    transitively containing a MapType cannot (Spark raises
    AnalysisException at plan time, not collect time)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


@dataclass
class _Entry:
    expires_at: float
    value: Any


@lru_cache(maxsize=1)
def _string_of(jvm):
    """``ScalaRunTime.stringOf``, looked up once per gateway: the lookup
    costs three py4j round-trips, the call one."""
    return jvm.scala.runtime.ScalaRunTime.stringOf


@dataclass
class ResultCache:
    """TTL result cache keyed by the DataFrame's semantic hash and its
    input files — two queries with the same optimized plan over the same
    files share one entry (stronger than the reference's
    normalized-SQL-text key, app.py:151,303)."""

    ttl_seconds: float = 3600.0
    _store: dict[Any, dict[int, _Entry]] = field(default_factory=dict)
    hits: int = 0
    misses: int = 0

    @staticmethod
    def key_for(df: DataFrame):
        """The cache key: the optimized plan and the frame's input files.

        The plan names a table's path, not its files. Spark names every
        file it writes with a fresh write UUID, so an overwrite changes
        the input file set, and a re-read of overwritten data misses
        instead of serving the old rows. A file rewritten in place under
        the same name is not detected; no writer in the package does
        that.
        """
        # hash the OPTIMIZED plan: trivially-different spellings (extra
        # projections, reordered filters) collapse to one key;
        # df.semanticHash() hashes the analyzed plan and would not.
        # semanticHash alone is 32-bit — birthday math puts a cross-plan
        # collision (one query silently served another's rows) at ~1% by
        # ten thousand distinct cached plans, so the key also carries an
        # md5 of the CANONICALIZED plan string (canonicalization
        # normalizes expr ids, so equivalent spellings still collapse).
        # The file set comes back as one string from one JVM call, in
        # listing order: a reordered listing can only cost a miss.
        import hashlib

        plan = df._jdf.queryExecution().optimizedPlan()
        files = _string_of(df.sparkSession._jvm)(df._jdf.inputFiles())
        return (
            plan.semanticHash(),
            hashlib.md5(plan.canonicalized().toString().encode()).hexdigest(),
            hashlib.md5(files.encode()).hexdigest(),
        )

    def fetch(self, df: DataFrame, limit: int = 5000):
        """Collect (bounded) through the cache; returns list[Row].

        The value is ``filtered_read(df, limit=limit)``'s deterministic
        first page, so two sessions filling the cache from the same plan
        hold the same rows — an unordered limit is free to return any
        subset.
        """
        plan_key = self.key_for(df)
        now = time.monotonic()
        entry = self._store.get(plan_key, {}).get(limit)
        if entry and entry.expires_at > now:
            self.hits += 1
            return entry.value
        self.misses += 1
        # a miss drops every expired entry, so an entry outlives its TTL
        # only until the next miss
        self._store = {
            key: live
            for key, by_limit in self._store.items()
            if (live := {n: e for n, e in by_limit.items() if e.expires_at > now})
        }
        value = filtered_read(df, limit=limit).collect()
        self._store.setdefault(plan_key, {})[limit] = _Entry(
            now + self.ttl_seconds, value
        )
        return value

    def invalidate(self, df: DataFrame | None = None) -> None:
        """Keyed invalidation (one plan) or flush-all (≙ Redis delete /
        flushall, app.py:212-215,300-304)."""
        if df is None:
            self._store.clear()
        else:
            self._store.pop(self.key_for(df), None)


HIDDEN_EXACT = ("cik", "ein", "changed", "value")
HIDDEN_SUFFIXES = ("_sk", "_dt", "_id", "_code")


def drop_hidden_columns(df: DataFrame) -> DataFrame:
    """UI column exclusion (P10: reference app.py:488-493 hides key/
    internal columns — exact names and *_sk/_dt/_id/_code suffixes)."""
    drop = [
        c
        for c in df.columns
        if c.lower() in HIDDEN_EXACT
        or any(c.lower().endswith(s) for s in HIDDEN_SUFFIXES)
    ]
    return df.drop(*drop)
