"""Quarter-partitioned raw layer (SURVEY §7 Phase 6/7: "partition raw
NUM by (year, quarter); process new partitions only").

The reference lands each quarter under an S3 prefix and reloads with
COPY (Sec_data_pipeline.py:264-284); here the landing TSVs become a
Hive-partitioned Parquet dataset:

    raw/<table>/quarter=2024q1/part-*.parquet

- ``ingest_quarter``  — parse one quarter's TSVs (COPY semantics) and
  append them under ``quarter=<label>``. Idempotent per quarter via
  dynamic partition overwrite (re-running a quarter replaces exactly
  that partition, touching nothing else — the incremental model that
  the reference's high-watermark macro approximates).
- ``read_raw``        — open a table across all quarters; a filter on
  ``quarter`` prunes partitions at planning time (verified in
  tests/test_raw_layer.py by inspecting PartitionFilters).

At 100 TB: quarter partitions bound every reprocessing job to new data,
`quarter` predicates skip irrelevant years entirely, and within a
partition the fact table can additionally be bucketed by ``adsh``
(sources/catalog.py) for shuffle-free star joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import SEC_SCHEMAS
from .tsv import read_tsv


def ingest_quarter(
    spark: SparkSession, landing_dir: str, raw_dir: str, quarter: str
) -> dict[str, int]:
    """Land one quarter's four tables under quarter=<label>. Returns
    per-table row counts."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    counts: dict[str, int] = {}
    # each table is parsed exactly once, by its write: read_tsv, not the
    # persisting read_sec_quarter, whose cache nothing here would reuse
    for name, schema in SEC_SCHEMAS.items():
        df = read_tsv(spark, landing_dir, schema, path_glob=f"*{name}.txt")
        # observe() piggybacks the row count on the write job itself —
        # one TSV parse per table, not a second count() scan (at the
        # real ~500 MB/quarter scale the re-parse doubled ingest cost)
        obs = Observation(f"ingest_{name}")
        out = df.withColumn("quarter", F.lit(quarter)).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        (
            out.write.mode("overwrite")
            .partitionBy("quarter")
            .parquet(f"{raw_dir}/{name}")
        )
        counts[name] = obs.get["rows"]
    return counts


def read_raw(
    spark: SparkSession, raw_dir: str, table: str, quarter: str | None = None
) -> DataFrame:
    """Read a raw table; ``quarter`` restricts to one partition (pruned
    at the scan, not filtered after)."""
    df = spark.read.parquet(f"{raw_dir}/{table}")
    if quarter is not None:
        df = df.filter(df.quarter == quarter)
    return df
