"""Materialization sinks + catalog helpers (SURVEY §2.1 S10/S11).

Maps the reference's dbt materialization/`cluster_by` configs
(reference: Airflow/masterfindata/dbt_project.yml:28-45,
models/Staging/stg_num.sql:2-6, models/Facts/fct_balanceSheet.sql:1-6)
onto Spark's storage primitives:

- ``view``                → temp view (lazy lineage)
- ``cache``               → ``session.persist_fresh`` + temp view (a
                            re-run replaces the entry an earlier run
                            cached, so re-landed sources never meet
                            stale rows)
- ``table``               → Parquet write; ``cluster_by`` becomes
                            repartition+sortWithinPartitions (co-located,
                            sorted runs inside each file — the micro-
                            partition-clustering analogue)
- ``table`` + ``bucket_by`` → ``bucketBy(n, keys).sortBy(keys)
                            .saveAsTable`` — the strongest form: joins
                            and aggregations on the bucket keys skip the
                            shuffle entirely (verified in
                            tests/test_bucketing.py)

At 100 TB, bucketing the NUM table by ``adsh`` makes every
NUM⋈PRE/NUM⋈SUB join shuffle-free on the fact side — the single
biggest cost in the star build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..session import persist_fresh


def materialize(
    df: DataFrame,
    name: str,
    mode: str = "view",
    warehouse_dir: str | None = None,
    cluster_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> DataFrame:
    """Materialize ``df`` as ``name`` per the requested strategy and
    return a re-readable DataFrame registered as a temp view.

    ``cluster_by`` and ``bucket_by`` lay out written files, so they
    need ``table``: a ``view`` or ``cache`` writes nothing to lay out.
    """
    spark = df.sparkSession
    if mode not in ("view", "cache", "table"):
        raise ValueError(f"unknown materialization {mode!r}")
    if mode != "table":
        if cluster_by or bucket_by:
            raise ValueError(
                f"{name}: cluster_by/bucket_by need table materialization, not {mode!r}"
            )
        out = persist_fresh(df) if mode == "cache" else df
        out.createOrReplaceTempView(name)
        return out
    if bucket_by:
        n, keys = bucket_by
        # a previous session may have left the managed location behind
        # without a catalog entry — clear both before writing
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        location = f"{warehouse_dir}/{name}" if warehouse_dir else (
            f"{spark.conf.get('spark.sql.warehouse.dir')}/{name}"
        )
        jpath = spark._jvm.org.apache.hadoop.fs.Path(location)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
        writer = df.write.mode("overwrite").bucketBy(n, *keys).sortBy(*keys)
        if warehouse_dir:
            writer = writer.option("path", f"{warehouse_dir}/{name}")
        writer.saveAsTable(name)
        out = spark.table(name)
    else:
        if not warehouse_dir:
            raise ValueError(f"{name}: table materialization needs warehouse_dir")
        out_df = df
        if cluster_by:
            out_df = df.repartition(*cluster_by).sortWithinPartitions(*cluster_by)
        out_df.write.mode("overwrite").parquet(f"{warehouse_dir}/{name}")
        out = spark.read.parquet(f"{warehouse_dir}/{name}")
        out.createOrReplaceTempView(name)
    return out


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    shard_col: str = "shard",
    order_cols: list[str] | None = None,
    max_records_per_file: int = 0,
) -> DataFrame:
    """Write a packed training dataset in the sharded layout a trainer's
    data loader consumes: ``out_dir/shard=N/part-*.parquet`` — one
    Hive partition directory per shard, so loader workers map 1:1 onto
    directories and a ``shard`` predicate prunes at planning time (the
    raw_layer quarter-partition move applied to the write side of the
    pack pipeline: pack_token_ids → write_training_shards is the
    terminal stage).

    ``order_cols`` (e.g. ``["seq_id"]``) repartitions by the shard
    column and sorts (shard, *order_cols) within partitions, so each
    shard's files hold its blocks in training order — the reader streams
    them sequentially without a sort. ``max_records_per_file`` bounds
    file sizes (a 100 TB shard must split into loader-friendly files;
    0 = Spark's default splitting).

    Returns a manifest read back FROM THE WRITTEN DATASET (not the
    input): per shard the row and file counts — the artifact a training
    job records, and a write-path verification in one move.
    """
    from pyspark.sql import functions as F

    out = df
    if order_cols:
        out = df.repartition(F.col(shard_col)).sortWithinPartitions(
            shard_col, *order_cols
        )
    writer = out.write.mode("overwrite").partitionBy(shard_col)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(out_dir)
    back = df.sparkSession.read.parquet(out_dir)
    # input_file_name() is non-deterministic to the analyzer and cannot
    # sit inside an aggregate — project it to a column first
    return (
        back.select(F.col(shard_col), F.input_file_name().alias("__file"))
        .groupBy(shard_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("__file").cast("long").alias("n_files"),
        )
        .orderBy(shard_col)
    )
