"""Relational workload: scans, projections, filters, joins, aggregates,
windows, sorts/limits, set ops, scalar functions — the SURVEY §2
inventory expressed over the driver's TPC-H-ish tables, each with a
DuckDB oracle.

Operator coverage tags reference SURVEY.md §2 ids (P*, J*, A*, W*, O*,
F*) and the reference files they derive from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import surrogate_key
from .common import (
    SQL_CHARGE,
    SQL_REVENUE,
    as_dbl,
    dec,
    money_sum,
    q,
    revenue_expr,
    table,
)


# ---------------------------------------------------------------------------
# A1/P5/F4 — hash aggregate over filtered scan (the fct_* shape:
# reference Airflow/masterfindata/models/Facts/fct_balanceSheet.sql:60-73).
# TPC-H Q1 flavor: 2 group keys, 8 aggregates.
# ---------------------------------------------------------------------------
@q(
    "q_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity)                                   AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           -- the 4/6-dp sums ROUND to money cents on the DECIMAL (the
           -- facts-build ROUND(SUM,2) convention; decimal CAST-downscale
           -- rounding itself differs across engines) BEFORE the double
           -- cast: past an unscaled 2^53 the decimal->double
           -- conversion is no longer exact and the ENGINES round
           -- differently (DuckDB converts int128->double then scales,
           -- Java BigDecimal converts correctly-rounded in one step) —
           -- observed as a 1-ulp sum_charge split at sf1 (NOTES_r7 §39)
           CAST(ROUND(SUM({SQL_REVENUE}), 2) AS DOUBLE)     AS sum_disc_price,
           CAST(ROUND(SUM({SQL_CHARGE}), 2) AS DOUBLE)      AS sum_charge,
           ROUND(SUM(l_quantity) / COUNT(*), 4)              AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4)      AS avg_disc,
           COUNT(*)                                          AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-12-31 00:00:00").cast("timestamp")
    )
    # pre-project the double→decimal casts ONCE: each money column is
    # referenced by several aggregate expressions, and hoisting the cast
    # out of the aggregate list saves ~30% wall on the whole query (the
    # per-row BigDecimal conversion dominates; r3 profile). Same exact
    # decimal math, same oracle hash.
    ep, dc, tx = F.col("__ep"), F.col("__dc"), F.col("__tx")
    rev = ep * (F.lit(1) - dc)
    chg = rev.cast("decimal(18,4)") * (F.lit(1) + tx)
    n = F.count(F.lit(1))
    return (
        l.select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            dec("l_extendedprice").alias("__ep"),
            dec("l_discount").alias("__dc"),
            dec("l_tax").alias("__tx"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            as_dbl(F.sum(ep)).alias("sum_base_price"),
            # downscale to cents before the double cast (see the oracle
            # comment: 1-ulp engine split past unscaled 2^53)
            as_dbl(F.round(F.sum(rev), 2)).alias("sum_disc_price"),
            as_dbl(F.round(F.sum(chg), 2)).alias("sum_charge"),
            F.round(F.sum("l_quantity") / n, 4).alias("avg_qty"),
            F.round(as_dbl(F.sum(ep)) / n, 4).alias("avg_price"),
            F.round(as_dbl(F.sum(dc)) / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# P1-P4/F1 — projection, rename, null-default, derived key, split_part
# (reference stg_sub.sql:6-21, stg_num.sql:17, dim_company.sql:15).
# ---------------------------------------------------------------------------
@q(
    "q_projection",
    """
    SELECT p_partkey,
           UPPER(p_name)                                     AS name_upper,
           CAST(SPLIT_PART(p_brand, '#', 2) AS BIGINT)       AS brand_num,
           CONCAT_WS('-', p_brand, p_type)                   AS brand_type_key,
           COALESCE(NULLIF(p_type, 'ECONOMY'), 'Unknown')    AS type_defaulted,
           CAST(LENGTH(p_name) AS BIGINT)                    AS name_len
    FROM part
    """,
)
def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2))
        .cast("long")
        .alias("brand_num"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type_key"),
        F.coalesce(F.nullif(F.col("p_type"), F.lit("ECONOMY")), F.lit("Unknown")).alias(
            "type_defaulted"
        ),
        F.length("p_name").cast("long").alias("name_len"),
    )


# ---------------------------------------------------------------------------
# P5-P7/F8 — composed predicates: equality, BETWEEN, IN, date range
# (reference Frontend/app.py:182-198 dynamic predicate builder).
# ---------------------------------------------------------------------------
@q(
    "q_filter_compose",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
      AND o_totalprice BETWEEN 1000 AND 50000
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1998-12-31 00:00:00'
      AND o_orderpriority = '1-URGENT'
    """,
)
def q_filter_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").between(1000, 50000)
        & F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1998-12-31 00:00:00").cast("timestamp"),
        )
        & (F.col("o_orderpriority") == "1-URGENT")
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# J1/A1 — inner equi-join then aggregate (reference fct_balanceSheet.sql:16-21).
# ---------------------------------------------------------------------------
@q(
    "q_join_agg",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           -- cents-ROUND before the double cast (the q_pricing_summary
           -- 2^53 lesson, NOTES_r7 §39)
           CAST(ROUND(SUM({SQL_REVENUE}), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            as_dbl(F.round(F.sum(revenue_expr()), 2)).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J2 — broadcast-hinted dimension joins (reference fct_balanceSheet.sql:25-37
# /*+ BROADCAST(stg_sub) */): fact scans never shuffle, dims ship to tasks.
# ---------------------------------------------------------------------------
@q(
    "q_broadcast_star",
    f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_items,
           -- cents-ROUND before the double cast (the q_pricing_summary
           -- 2^53 lesson, NOTES_r7 §39)
           CAST(ROUND(SUM({SQL_REVENUE}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY r_name, n_name
    """,
)
def q_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            as_dbl(F.round(F.sum(revenue_expr()), 2)).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J3/P2/A-counts — left outer join to dimension + COUNT(col) null semantics
# + COUNT(DISTINCT) (reference fct_balanceSheet.sql:48-49).
# ---------------------------------------------------------------------------
@q(
    "q_left_join_counts",
    """
    SELECT c_mktsegment,
           COUNT(o_orderkey)            AS n_orders,
           COUNT(DISTINCT c_custkey)    AS n_customers,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless_rows
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def q_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orderless_rows"),
        )
    )


# ---------------------------------------------------------------------------
# J5 — join on an *expression* key (reference fct_balanceSheet.sql:53-54
# TRY_TO_DATE(...) = dim_date.Full_DT): here month-truncation equality.
# ---------------------------------------------------------------------------
@q(
    "q_expr_key_join",
    """
    SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS ship_month,
           COUNT(*) AS n_same_month_lines
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND DATE_TRUNC('month', l_shipdate) = DATE_TRUNC('month', o_orderdate)
    GROUP BY 1
    """,
)
def q_expr_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    joined = l.join(
        o,
        (l.l_orderkey == o.o_orderkey)
        & (F.date_trunc("month", l.l_shipdate) == F.date_trunc("month", o.o_orderdate)),
    )
    return joined.groupBy(
        F.date_format(F.date_trunc("month", o.o_orderdate), "yyyy-MM").alias(
            "ship_month"
        )
    ).agg(F.count(F.lit(1)).alias("n_same_month_lines"))


# ---------------------------------------------------------------------------
# J10 — anti join (dbt relationships-test semantics:
# reference masterfindata sub_source.yml RAW_NUM FK block).
# ---------------------------------------------------------------------------
@q(
    "q_anti_join",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Semi join (EXISTS) — P6's "null-rejecting filter after left join" done
# idiomatically (reference fct_balanceSheet.sql:55-57).
# ---------------------------------------------------------------------------
@q(
    "q_semi_join",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT' AND o_totalprice > 100000
    )
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 100000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# A2 — DISTINCT projection (reference dim_company.sql:6).
# ---------------------------------------------------------------------------
@q(
    "q_distinct",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# F5 — dbt_utils-compatible MD5 surrogate keys, incl. the null sentinel
# (reference dim_company.sql:7-12, Notes.md:242-247).
# ---------------------------------------------------------------------------
@q(
    "q_surrogate_key",
    """
    SELECT n_nationkey,
           MD5(CONCAT_WS('-',
               COALESCE(CAST(n_nationkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
               COALESCE(NULLIF(n_name, 'NATION_0'), '_dbt_utils_surrogate_key_null_'),
               COALESCE(r_name, '_dbt_utils_surrogate_key_null_'))) AS nation_sk
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "n_nationkey",
            surrogate_key(
                F.col("n_nationkey"),
                F.nullif(F.col("n_name"), F.lit("NATION_0")),
                F.col("r_name"),
            ).alias("nation_sk"),
        )
    )


# ---------------------------------------------------------------------------
# W1/O — window functions: top-k per group with deterministic tie-break
# (reference dim_date.sql:9 is the only window; top-k is the idiomatic
# serving-layer extension).
# ---------------------------------------------------------------------------
@q(
    "q_window_topk",
    """
    SELECT * FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# W — lag/lead + running frames (engine completeness; reference has only
# row_number, SURVEY §2.5).
# ---------------------------------------------------------------------------
@q(
    "q_window_running",
    """
    SELECT user_id,
           event_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT)                     AS seq,
           ROUND(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) :: DOUBLE AS running_value,
           COALESCE(LAG(event_type) OVER w, 'none')                AS prev_type
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("long").alias("seq"),
        F.round(
            F.sum(dec("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        )
        .cast("double")
        .alias("running_value"),
        F.coalesce(F.lag("event_type").over(w), F.lit("none")).alias("prev_type"),
    )


# ---------------------------------------------------------------------------
# U4/F3/F2 — generated calendar dimension (reference dim_date.sql:7-29),
# with the weekend-flag fixed to cover Sat+Sun (SURVEY §4 gotcha 1).
# ---------------------------------------------------------------------------
@q(
    "q_date_dim",
    """
    SELECT CAST(STRFTIME(full_dt, '%Y%m%d') AS BIGINT) AS date_sk,
           STRFTIME(full_dt, '%Y-%m-%d')               AS full_dt_str,
           CAST(YEAR(full_dt) AS BIGINT)               AS y,
           CAST(MONTH(full_dt) AS BIGINT)              AS m,
           CAST(DAY(full_dt) AS BIGINT)                AS d,
           CAST(CASE WHEN MONTH(full_dt) BETWEEN 1 AND 3 THEN 1
                     WHEN MONTH(full_dt) BETWEEN 4 AND 6 THEN 2
                     WHEN MONTH(full_dt) BETWEEN 7 AND 9 THEN 3
                     ELSE 4 END AS BIGINT)             AS qtr,
           CASE WHEN DAYOFWEEK(full_dt) IN (0, 6) THEN 'Y' ELSE 'N' END AS is_weekend
    FROM (SELECT DATE '2000-01-01' + CAST(i AS INTEGER) AS full_dt
          FROM RANGE(0, 1000) t(i))
    """,
)
def q_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spark.range instead of ROW_NUMBER-over-GENERATOR: no single-partition
    # sort, embarrassingly parallel (SURVEY §2.5 W1 idiomatic replacement).
    days = spark.range(0, 1000)
    full_dt = F.date_add(F.lit("2000-01-01").cast("date"), F.col("id").cast("int"))
    m = F.month(full_dt)
    return days.select(
        F.date_format(full_dt, "yyyyMMdd").cast("long").alias("date_sk"),
        F.date_format(full_dt, "yyyy-MM-dd").alias("full_dt_str"),
        F.year(full_dt).cast("long").alias("y"),
        m.cast("long").alias("m"),
        F.dayofmonth(full_dt).cast("long").alias("d"),
        F.when(m.between(1, 3), 1)
        .when(m.between(4, 6), 2)
        .when(m.between(7, 9), 3)
        .otherwise(4)
        .cast("long")
        .alias("qtr"),
        # Spark dayofweek: Sun=1..Sat=7 (DuckDB: Sun=0..Sat=6)
        F.when(F.dayofweek(full_dt).isin(1, 7), "Y").otherwise("N").alias("is_weekend"),
    )


# ---------------------------------------------------------------------------
# A3/F6 — collect-to-array aggregate with deterministic ordering
# (reference financial_statements_json.sql:13-32 ARRAY_AGG(OBJECT_CONSTRUCT)).
# Emitted as a sorted joined string so the multiset compare is exact.
# ---------------------------------------------------------------------------
@q(
    "q_collect_list",
    """
    SELECT l_orderkey,
           STRING_AGG(CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_quantity AS INTEGER),
                      ',' ORDER BY CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_quantity AS INTEGER)) AS items
    FROM lineitem
    WHERE l_orderkey < 500
    GROUP BY l_orderkey
    """,
)
def q_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    item = F.concat_ws(
        ":",
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("int").cast("string"),
    )
    return l.groupBy("l_orderkey").agg(
        F.array_join(F.array_sort(F.collect_list(item)), ",").alias("items")
    )


# ---------------------------------------------------------------------------
# P11/A4 — incremental high-watermark filter via scalar subquery
# (reference json_transform/macros/incremental_filter.sql:1-5).
# ---------------------------------------------------------------------------
@q(
    "q_watermark",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= (SELECT MAX(o_orderdate) FROM orders) - INTERVAL 90 DAY
    GROUP BY o_orderstatus
    """,
)
def q_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    wm = o.agg(F.max("o_orderdate").alias("wm"))
    return (
        o.join(F.broadcast(wm))
        .filter(F.col("o_orderdate") >= F.col("wm") - F.expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# F2/F3 — CASE WHEN quarter mapping + weekend flag over order dates
# (reference dim_date.sql:18-29, Backend/api.py:22-26).
# ---------------------------------------------------------------------------
@q(
    "q_case_quarter",
    """
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y,
           CAST(YEAR(o_orderdate) AS VARCHAR) || 'q' ||
             CAST(CAST((MONTH(o_orderdate) - 1) // 3 + 1 AS BIGINT) AS VARCHAR) AS year_quarter,
           CASE WHEN DAYOFWEEK(o_orderdate) IN (0, 6) THEN 'Y' ELSE 'N' END AS is_weekend,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q_case_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    yq = F.concat_ws(
        "q",
        F.year(d).cast("string"),
        (((F.month(d) - 1) / 3).cast("int") + 1).cast("long").cast("string"),
    )
    return (
        o.groupBy(
            F.year(d).cast("long").alias("y"),
            yq.alias("year_quarter"),
            F.when(F.dayofweek(d).isin(1, 7), "Y").otherwise("N").alias("is_weekend"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# F7/F8/F9 — regex / range / length validation aggregates (the
# dbt_expectations surface: reference sub_source.yml, num_source.yml,
# pre_source.yml, tag_source.yml).
# ---------------------------------------------------------------------------
@q(
    "q_validation_stats",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_chars BETWEEN 100 AND 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
           CAST(SUM(CASE WHEN REGEXP_MATCHES(text, 'table.*value') THEN 1 ELSE 0 END) AS BIGINT) AS n_regex_hit,
           CAST(SUM(CASE WHEN LENGTH(text) BETWEEN 1 AND 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_textlen_ok,
           CAST(SUM(CASE WHEN lang IN ('en', 'de') THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_accepted
    FROM documents
    GROUP BY source
    """,
)
def q_validation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")

    def flag(c):
        return F.sum(F.when(c, 1).otherwise(0)).cast("long")

    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        flag(F.col("n_chars").between(100, 300)).alias("n_len_ok"),
        flag(F.col("text").rlike("table.*value")).alias("n_regex_hit"),
        flag(F.length("text").between(1, 512)).alias("n_textlen_ok"),
        flag(F.col("lang").isin("en", "de")).alias("n_lang_accepted"),
    )


# ---------------------------------------------------------------------------
# O1-O3 — deterministic pagination: ORDER BY + LIMIT/OFFSET
# (reference Frontend/app.py:135,198 — with the determinism fix from
# SURVEY §4 gotcha 3).
# ---------------------------------------------------------------------------
@q(
    "q_pagination",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 1000
    """,
)
def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .offset(1000)
        .limit(100)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# F6/S8 — JSON document construction (reference
# financial_statements_json.sql:6-25 OBJECT_CONSTRUCT → to_json(struct)).
# ---------------------------------------------------------------------------
@q(
    "q_json_doc",
    """
    SELECT o_orderkey,
           CAST(TO_JSON(STRUCT_PACK(
               order_key := o_orderkey,
               status := o_orderstatus,
               order_date := STRFTIME(o_orderdate, '%Y-%m-%d'))) AS VARCHAR) AS doc
    FROM orders WHERE o_orderkey < 1000
    """,
)
def q_json_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("order_key"),
                F.col("o_orderstatus").alias("status"),
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            )
        ).alias("doc"),
    )


# ---------------------------------------------------------------------------
# JSON path extraction (VARIANT access: reference txt_to_json.py:108-116;
# events.props carries a JSON payload).
# ---------------------------------------------------------------------------
@q(
    "q_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long"))
        .cast("long")
        .alias("k_total"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7 — absent in reference; engine completeness).
# ---------------------------------------------------------------------------
@q(
    "q_set_ops",
    """
    SELECT nationkey, 'both' AS which FROM
      (SELECT DISTINCT c_nationkey AS nationkey FROM customer
       INTERSECT SELECT DISTINCT s_nationkey FROM supplier) t
    UNION ALL
    SELECT nationkey, 'cust_only' AS which FROM
      (SELECT DISTINCT c_nationkey AS nationkey FROM customer
       EXCEPT SELECT DISTINCT s_nationkey FROM supplier) t
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    s = (
        table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    return c.intersect(s).withColumn("which", F.lit("both")).unionAll(
        c.exceptAll(s).distinct().withColumn("which", F.lit("cust_only"))
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup with grouping-id (engine completeness).
# ---------------------------------------------------------------------------
@q(
    "q_rollup",
    """
    SELECT COALESCE(r_name, 'ALL') AS region_name,
           COALESCE(n_name, 'ALL') AS nation_name,
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
           COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.grouping_id().alias("_gid"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            F.col("_gid").cast("long").alias("gid"),
            "n_customers",
        )
    )


# ---------------------------------------------------------------------------
# Pivot (reference Frontend/app.py:567 value_counts → wide counts).
# ---------------------------------------------------------------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@q(
    "q_pivot",
    """
    SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS "view"
    FROM events
    GROUP BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy((F.col("user_id") % 10).cast("long").alias("user_bucket"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


# ---------------------------------------------------------------------------
# The star-schema fact build shape (reference fct_balanceSheet.sql whole
# file): filtered fact ⋈ header (broadcast) ⟕ SK dims → group → SUM →
# ROUND. Expressed over the TPC-H tables so the oracle can check it; the
# true SEC pipeline lives in operators/facts.py with golden tests.
# ---------------------------------------------------------------------------
@q(
    "q_fact_star_shape",
    f"""
    WITH key_data AS (
      SELECT l.l_orderkey, l.l_partkey, l.l_quantity, o.o_custkey, o.o_orderdate,
             {SQL_REVENUE} AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
    ),
    dim_cust AS (
      SELECT DISTINCT c_custkey,
             MD5(CONCAT_WS('-', COALESCE(CAST(c_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
                                COALESCE(c_name, '_dbt_utils_surrogate_key_null_'))) AS company_sk
      FROM customer
    )
    SELECT d.company_sk,
           STRFTIME(k.o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(ROUND(SUM(k.revenue), 2) AS DOUBLE) AS fct_value,
           COUNT(*) AS n_facts
    FROM key_data k
    JOIN dim_cust d ON k.o_custkey = d.c_custkey
    GROUP BY d.company_sk, STRFTIME(k.o_orderdate, '%Y-%m-%d')
    """,
)
def q_fact_star_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    key_data = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        "o_custkey",
        "o_orderdate",
        revenue_expr().alias("revenue"),
    )
    dim_cust = c.select(
        "c_custkey", surrogate_key("c_custkey", "c_name").alias("company_sk")
    ).distinct()
    return (
        key_data.join(F.broadcast(dim_cust), key_data.o_custkey == dim_cust.c_custkey)
        .groupBy(
            "company_sk", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date")
        )
        .agg(
            # round the exact DECIMAL sum, then cast: rounding a double
            # diverges between engines on half-way values (.895 cases)
            as_dbl(F.round(F.sum("revenue"), 2)).alias("fct_value"),
            F.count(F.lit(1)).alias("n_facts"),
        )
    )


# ---------------------------------------------------------------------------
# Exact percentiles per group (interpolated — identical definition to
# ANSI quantile_cont; integral double inputs keep the interpolation
# arithmetic exact).
# ---------------------------------------------------------------------------
@q(
    "q_percentiles",
    """
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS p50_qty,
           ROUND(QUANTILE_CONT(l_quantity, 0.9), 4) AS p90_qty,
           ROUND(QUANTILE_CONT(l_quantity, 0.99), 4) AS p99_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
        F.round(F.expr("percentile(l_quantity, 0.99)"), 4).alias("p99_qty"),
    )


# ---------------------------------------------------------------------------
# Multiple DISTINCT aggregates in one pass (Expand-based plan).
# ---------------------------------------------------------------------------
@q(
    "q_multi_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# String-function battery (F1 coverage beyond upper/split_part/concat).
# ---------------------------------------------------------------------------
@q(
    "q_string_funcs",
    """
    SELECT p_partkey,
           SUBSTR(p_name, 1, 4)                       AS name_head,
           REPLACE(p_name, ' ', '_')                  AS name_snake,
           LPAD(CAST(p_partkey AS VARCHAR), 10, '0')  AS key_padded,
           REVERSE(p_brand)                           AS brand_rev,
           CAST(STRPOS(p_name, 'e') AS BIGINT)        AS first_e,
           REPEAT(p_type, 2)                          AS type_twice,
           TRIM(CONCAT('  ', p_name, '  '))           AS name_trimmed
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 4).alias("name_head"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr(F.col("p_name"), "e").cast("long").alias("first_e"),
        F.repeat("p_type", 2).alias("type_twice"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias(
            "name_trimmed"
        ),
    )


# ---------------------------------------------------------------------------
# posexplode / unnest WITH ORDINALITY (lateral array expansion).
# ---------------------------------------------------------------------------
@q(
    "q_explode_pos",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents WHERE doc_id < 50
    ),
    u AS (
      SELECT doc_id,
             UNNEST(list_transform(toks, (t, i) -> struct_pack(pos := i - 1, token := t))) AS e
      FROM tk
    )
    SELECT doc_id, CAST(e.pos AS INTEGER) AS pos, e.token AS token FROM u
    """,
)
def q_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as TX

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.posexplode(TX.tokens(F.lower(F.col("text")))).alias("pos", "token"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregates (stddev/variance/corr/covar) — rounded: sample
# statistics over doubles accumulate in engine-specific order.
# ---------------------------------------------------------------------------
@q(
    "q_stats_agg",
    """
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
           ROUND(VAR_SAMP(l_quantity), 4)         AS var_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS covar_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )


# ---------------------------------------------------------------------------
# Window frames: first/last/nth value over ROWS frames, percent_rank,
# cume_dist (deterministic ordering with key tie-break).
# ---------------------------------------------------------------------------
@q(
    "q_window_frames",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           FIRST_VALUE(o_totalprice) OVER w AS frame_min_price,
           LAST_VALUE(o_totalprice) OVER
             (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS frame_max_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("frame_min_price"),
        F.last("o_totalprice").over(wfull).alias("frame_max_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


# ---------------------------------------------------------------------------
# Date arithmetic: add_months-equivalent, datediff, last_day, truncation.
# ---------------------------------------------------------------------------
@q(
    "q_date_arith",
    """
    SELECT o_orderkey,
           STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
           CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
           STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           STRFTIME(DATE_TRUNC('quarter', o_orderdate), '%Y-%m-%d') AS qtr_start
    FROM orders WHERE o_orderkey < 3000
    """,
)
def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3m"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).cast("long").alias(
            "days_to_2002"
        ),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
            "qtr_start"
        ),
    )


# ---------------------------------------------------------------------------
# greatest / least / nullif / ifnull conditional scalars.
# ---------------------------------------------------------------------------
@q(
    "q_greatest_least",
    """
    SELECT p_partkey,
           GREATEST(p_size, 25)                          AS size_floor25,
           LEAST(p_retailprice, 1500.0)                  AS price_cap,
           COALESCE(NULLIF(p_size, 25), -1)              AS size_not25,
           CASE WHEN p_size IS NULL THEN 0 ELSE p_size END AS size_nvl
    FROM part
    """,
)
def q_greatest_least(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.greatest("p_size", F.lit(25)).alias("size_floor25"),
        F.least("p_retailprice", F.lit(1500.0)).alias("price_cap"),
        F.coalesce(F.nullif(F.col("p_size"), F.lit(25)), F.lit(-1)).alias(
            "size_not25"
        ),
        F.when(F.col("p_size").isNull(), 0).otherwise(F.col("p_size")).alias(
            "size_nvl"
        ),
    )


# ---------------------------------------------------------------------------
# Array operations: intersect/union/except/flatten/slice (emitted sorted
# + joined, so ordering semantics can't flake the hash).
# ---------------------------------------------------------------------------
@q(
    "q_array_ops",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents WHERE doc_id < 30
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS ta, b.toks AS tb
      FROM tk a JOIN tk b ON b.doc_id = a.doc_id + 1
    )
    SELECT id_a, id_b,
           array_to_string(list_sort(list_distinct(list_intersect(ta, tb))), ',') AS common,
           CAST(LEN(list_distinct(list_concat(ta, tb))) AS INTEGER)  AS n_union,
           COALESCE(array_to_string(list_sort(list_filter(list_distinct(ta), x -> NOT list_contains(tb, x))), ','), '') AS only_a,
           array_to_string(ta[1:3], ',') AS head3
    FROM pairs
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as TX

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    tk = d.select("doc_id", TX.tokens(F.lower(F.col("text"))).alias("toks"))
    a, b = tk.alias("a"), tk.alias("b")
    pairs = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.toks").alias("ta"),
        F.col("b.toks").alias("tb"),
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.array_join(
            F.array_sort(F.array_distinct(F.array_intersect("ta", "tb"))), ","
        ).alias("common"),
        F.size(F.array_distinct(F.concat("ta", "tb"))).alias("n_union"),
        F.array_join(
            F.array_sort(F.array_distinct(F.array_except("ta", "tb"))), ","
        ).alias("only_a"),
        F.array_join(F.slice("ta", 1, 3), ",").alias("head3"),
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM).
# ---------------------------------------------------------------------------
@q(
    "q_null_safe_join",
    """
    WITH c AS (SELECT c_custkey, NULLIF(c_mktsegment, 'MACHINERY') AS seg FROM customer),
    segs AS (SELECT DISTINCT NULLIF(c_mktsegment, 'MACHINERY') AS seg FROM customer)
    SELECT s.seg AS seg, COUNT(*) AS n_customers
    FROM c JOIN segs s ON c.seg IS NOT DISTINCT FROM s.seg
    GROUP BY s.seg
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg")
    )
    segs = c.select("seg").distinct().alias("s")
    return (
        c.alias("c")
        .join(segs, F.col("c.seg").eqNullSafe(F.col("s.seg")))
        .groupBy(F.col("s.seg").alias("seg"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
