from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.plans import serve

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_SMOKE}/orders.parquet")


def test_filtered_read_deterministic_pagination(orders):
    f = [serve.ColumnFilter("o_orderstatus", eq="F")]
    p1 = serve.filtered_read(orders, f, sort=["o_orderkey"], limit=10, offset=0)
    p2 = serve.filtered_read(orders, f, sort=["o_orderkey"], limit=10, offset=10)
    k1 = [r.o_orderkey for r in p1.collect()]
    k2 = [r.o_orderkey for r in p2.collect()]
    assert len(set(k1) & set(k2)) == 0
    assert k1 == sorted(k1) and k2 == sorted(k2) and k1[-1] < k2[0]


def test_build_predicate_compose(orders):
    f = [
        serve.ColumnFilter("o_orderstatus", eq="F"),
        serve.ColumnFilter("o_totalprice", between=(1000, 50000)),
    ]
    got = orders.filter(serve.build_predicate(f)).count()
    exp = orders.filter(
        (F.col("o_orderstatus") == "F") & F.col("o_totalprice").between(1000, 50000)
    ).count()
    assert got == exp


def test_filter_widget_probe(orders):
    w = serve.filter_widget_probe(orders)
    assert w["o_orderstatus"]["kind"] == "categorical"
    assert w["o_totalprice"]["kind"] == "range"
    assert w["o_orderkey"]["kind"] == "range"


def test_filter_widget_probe_two_jobs(spark, orders):
    """The probe must run exactly two jobs however many columns exist:
    one stats aggregate + one batched collect_set aggregate — never one
    distinct job per categorical column (VERDICT r2)."""
    orders.count()  # materialize the cache outside the job group
    sc = spark.sparkContext
    sc.setJobGroup("widget_probe", "widget probe job count")
    # AQE splits one action into one job per query stage — turn it off so
    # job count == action count for the assertion
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        w = serve.filter_widget_probe(orders)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("widget_probe")
    assert len(jobs) <= 2, f"expected <=2 jobs, ran {len(jobs)}"
    assert w["o_orderstatus"]["values"]  # categorical values still arrive


def test_result_cache_fetch_nested_map_schema(spark):
    """Columns transitively containing maps (array<map>, struct-with-map)
    are excluded from the cache's sort key instead of crashing orderBy
    (ADVICE r2)."""
    df = spark.sql(
        "SELECT x AS k, array(map('a', x)) AS am,"
        " named_struct('m', map('b', x), 'y', x) AS sm"
        " FROM range(5) t(x)"
    )
    cache = serve.ResultCache(ttl_seconds=60)
    rows = cache.fetch(df, limit=3)
    assert len(rows) == 3
    assert [r.k for r in rows] == [0, 1, 2]  # sorted by the orderable column
    df_all_maps = spark.sql("SELECT map('a', x) AS m FROM range(5) t(x)")
    assert len(cache.fetch(df_all_maps, limit=2)) == 2  # unsorted fallback


def test_guarded_sql_allows_queries(spark, orders):
    orders.createOrReplaceTempView("orders_serve")
    df = serve.guarded_sql(spark, "SELECT count(*) AS n FROM orders_serve")
    assert df.first().n == orders.count()
    # CTEs are legitimate queries (the reference's prefix check rejects them)
    df2 = serve.guarded_sql(
        spark, "WITH t AS (SELECT 1 AS x) SELECT x FROM t"
    )
    assert df2.first().x == 1


@pytest.mark.parametrize(
    "stmt",
    [
        "DROP TABLE orders_serve",
        "CREATE TABLE t2 AS SELECT 1",
        "INSERT INTO orders_serve VALUES (1)",
        "SET spark.sql.shuffle.partitions=1",
        "WITH x AS (SELECT 1 AS a) INSERT INTO orders_serve SELECT * FROM x",
    ],
)
def test_guarded_sql_blocks_commands(spark, stmt):
    with pytest.raises(serve.SqlGateError):
        serve.guarded_sql(spark, stmt)


@pytest.mark.parametrize(
    "stmt",
    [
        # read-adjacent but not pure queries: must fail CLOSED because
        # their nodes are simply absent from the allowlist — the
        # denylist this replaced would have let them through
        "EXPLAIN SELECT 1",
        "SHOW TABLES",
        "DESCRIBE TABLE orders_serve",
    ],
)
def test_guarded_sql_fails_closed_on_unlisted_nodes(spark, stmt):
    with pytest.raises(serve.SqlGateError):
        serve.guarded_sql(spark, stmt)


def test_guarded_sql_allows_full_query_surface(spark, orders):
    orders.createOrReplaceTempView("orders_serve")
    for q in [
        "SELECT o_orderstatus, count(*) OVER (PARTITION BY o_orderstatus) FROM orders_serve LIMIT 3",
        "SELECT * FROM orders_serve TABLESAMPLE (1 PERCENT)",
        "SELECT * FROM range(3)",
        "SELECT * FROM VALUES (1), (2) AS t(x)",
        "WITH t(a) AS (SELECT 1) SELECT a FROM t UNION ALL SELECT 2 ORDER BY 1",
        "SELECT /*+ BROADCAST(orders_serve) */ o_orderkey FROM orders_serve LIMIT 1",
    ]:
        serve.guarded_sql(spark, q).collect()


def test_result_cache_hit_and_invalidate(orders):
    cache = serve.ResultCache(ttl_seconds=60)
    q = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    r1 = cache.fetch(q, limit=50)
    # a semantically-equal but differently-constructed plan hits the cache
    q2 = orders.select("o_orderkey", "o_orderstatus").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    r2 = cache.fetch(q2, limit=50)
    assert cache.hits == 1 and cache.misses == 1
    assert [r.o_orderkey for r in r1] == [r.o_orderkey for r in r2]
    cache.invalidate(q)
    cache.fetch(q, limit=50)
    assert cache.misses == 2


def test_result_cache_misses_after_overwrite(spark, tmp_path):
    """A cached answer never outlives the files it came from: after the
    table is overwritten, the same filter on a re-read returns the
    uncached answer; a re-read of unchanged data still hits."""
    path = str(tmp_path / "t")
    cache = serve.ResultCache(ttl_seconds=60)
    spark.range(5).write.parquet(path)
    assert [r.id for r in cache.fetch(spark.read.parquet(path).filter("id < 3"))] == [0, 1, 2]
    assert [r.id for r in cache.fetch(spark.read.parquet(path).filter("id < 3"))] == [0, 1, 2]
    assert cache.hits == 1 and cache.misses == 1
    spark.range(100, 105).write.mode("overwrite").parquet(path)
    fresh = spark.read.parquet(path).filter("id < 3")
    assert cache.fetch(fresh) == fresh.collect() == []
    assert cache.misses == 2


def test_result_cache_drops_expired_entries_on_a_miss(spark, monkeypatch):
    """Expired entries leave the cache on the next miss, so distinct
    plans do not stay cached for the life of the process."""
    from types import SimpleNamespace

    now = [0.0]
    monkeypatch.setattr(serve, "time", SimpleNamespace(monotonic=lambda: now[0]))
    cache = serve.ResultCache(ttl_seconds=10)
    old, live, new = spark.range(3), spark.range(4), spark.range(5)
    cache.fetch(old)
    now[0] = 5.0
    cache.fetch(live)
    assert len(cache._store) == 2
    now[0] = 12.0  # old has expired, live has not
    cache.fetch(live)
    assert cache.hits == 1 and len(cache._store) == 2  # a hit drops nothing
    cache.fetch(new)
    key = serve.ResultCache.key_for
    assert set(cache._store) == {key(live), key(new)}


def test_list_catalog(spark):
    cat = serve.list_catalog(spark)
    assert "default" in cat


def test_drop_hidden_columns(spark):
    df = spark.createDataFrame(
        [(1, 2, 3, "x", "y", 4)],
        ["cik", "company_sk", "created_dt", "name", "status_code", "total"],
    )
    out = serve.drop_hidden_columns(df)
    assert out.columns == ["name", "total"]


def test_filter_widget_probe_keeps_null_category(spark):
    """NULL must stay a selectable categorical value (collect_set drops
    it; the has-null flag restores parity with the old distinct() path)."""
    df = spark.createDataFrame(
        [("A",), ("B",), (None,), ("A",)], "status string"
    )
    w = serve.filter_widget_probe(df)
    assert w["status"]["kind"] == "categorical"
    assert "None" in w["status"]["values"]
    assert set(w["status"]["values"]) == {"A", "B", "None"}


def test_filtered_read_map_column_default_sort(spark):
    """A map-typed column must not break filtered_read's DEFAULT
    deterministic sort (maps aren't orderable; the default key now
    skips them like ResultCache.fetch does)."""
    df = spark.createDataFrame(
        [(2, {"k": "b"}), (1, {"k": "a"})],
        "id int, m map<string,string>",
    )
    rows = serve.filtered_read(df, limit=10).collect()
    assert [r.id for r in rows] == [1, 2]


def test_result_cache_key_distinguishes_plans(spark):
    """The cache key must separate genuinely different plans while
    still collapsing equivalent spellings (the canonicalized-plan arm
    of the key)."""
    a = spark.range(10).filter("id > 3")
    a2 = spark.range(10).filter("id > 3").select("id")  # equivalent spelling
    b = spark.range(10).filter("id > 4")
    assert serve.ResultCache.key_for(a) == serve.ResultCache.key_for(a2)
    assert serve.ResultCache.key_for(a) != serve.ResultCache.key_for(b)
