"""The ``table`` materialization's ``cluster_by`` layout (the dbt
``cluster_by`` config): a clustered write round-trips, and a layout asked
of a view or cache is an error."""

from __future__ import annotations

import pytest

from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.catalog import (
    materialize,
)

from .conftest import SF_SMOKE


def test_clustered_parquet_roundtrip(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = materialize(o, "orders_clustered", "table", warehouse_dir=wh,
                      cluster_by=["o_custkey"])
    assert out.count() == o.count()


@pytest.mark.parametrize("mode", ["view", "cache"])
def test_layout_needs_table_materialization(spark, mode):
    """cluster_by lays out written files: a view or cache writes none,
    so asking for a layout there is an error."""
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    with pytest.raises(ValueError, match="needs table"):
        materialize(o, "orders_laid_out", mode, cluster_by=["o_custkey"])

