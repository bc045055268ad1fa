"""Bucketed materialization removes the shuffle from joins on the
bucket keys — the cluster_by/X7 scale analogue."""

from __future__ import annotations

import pytest

from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.catalog import (
    materialize,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def bucketed(spark):
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    l = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    ob = materialize(o, "orders_bkt", "table", bucket_by=(8, ["o_orderkey"]))
    lb = materialize(
        l.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_bkt",
        "table",
        bucket_by=(8, ["o_orderkey"]),
    )
    return ob, lb


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    ob, lb = bucketed
    joined = lb.join(ob.hint("merge"), "o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]


def test_bucketed_join_correct(spark, bucketed):
    ob, lb = bucketed
    got = lb.join(ob, "o_orderkey").count()
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    l = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    exp = l.join(o, l.l_orderkey == o.o_orderkey).count()
    assert got == exp


def test_clustered_parquet_roundtrip(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = materialize(o, "orders_clustered", "table", warehouse_dir=wh,
                      cluster_by=["o_custkey"])
    assert out.count() == o.count()


@pytest.mark.parametrize("mode", ["view", "cache"])
def test_layout_needs_table_materialization(spark, mode):
    """cluster_by/bucket_by lay out written files: a view or cache
    writes none, so asking for a layout there is an error."""
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    with pytest.raises(ValueError, match="need table"):
        materialize(o, "orders_laid_out", mode, cluster_by=["o_custkey"])
    with pytest.raises(ValueError, match="need table"):
        materialize(o, "orders_laid_out", mode, bucket_by=(8, ["o_custkey"]))


def test_write_training_shards_layout_and_manifest(spark, tmp_path_factory):
    """The terminal write stage of the pack pipeline: pack_token_ids →
    write_training_shards must produce (a) one Hive partition directory
    per shard, (b) a read-back manifest whose per-shard row counts match
    the input, (c) bounded file sizes under maxRecordsPerFile, (d) rows
    inside each file in training order (seq_id ascending) so the loader
    streams without sorting, and (e) a shard predicate that prunes at
    planning time."""
    import os

    from pyspark.sql import functions as F

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.textops import (
        pack_token_ids,
    )
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.catalog import (
        write_training_shards,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda t: F.pmod(F.xxhash64(t), F.lit(101)).cast("int"),
        ).alias("ids"),
    )
    blocks = pack_token_ids(docs, budget=64, n_shards=4, id_col="doc_id")
    want = {
        (r.shard, r.n) for r in
        blocks.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    out = str(tmp_path_factory.mktemp("shards")) + "/ds"
    manifest = write_training_shards(
        blocks, out, shard_col="shard", order_cols=["seq_id"],
        max_records_per_file=5,
    ).collect()

    # (a) hive layout
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == sorted(f"shard={s}" for s, _ in want)
    # (b) manifest counts match the input
    assert {(r.shard, r.n_rows) for r in manifest} == want
    # (c) bounded files
    for r in manifest:
        assert r.n_files >= (r.n_rows + 4) // 5
        files = [
            f for f in os.listdir(f"{out}/shard={r.shard}") if f.endswith(".parquet")
        ]
        assert len(files) == r.n_files
        # (d) training order within each file
        for f in files:
            seq = [
                x.seq_id
                for x in spark.read.parquet(f"{out}/shard={r.shard}/{f}")
                .select("seq_id").collect()
            ]
            assert seq == sorted(seq)
    # (e) partition pruning
    pruned = spark.read.parquet(out).filter(F.col("shard") == manifest[0].shard)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    norm = plan.replace("#", "").replace("shard0", "shard")
    # guard the fallback arm: a plan with no PartitionFilters section at
    # all must fail readably, not with an IndexError (ADVICE r7 §4)
    assert "PartitionFilters" in plan, plan
    assert (
        "PartitionFilters: [isnotnull(shard" in norm
        or "shard" in plan.split("PartitionFilters")[1][:80]
    )
